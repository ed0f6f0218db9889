"""Training-data operators: dedupe family, ANN, text analysis, multimodal."""

from __future__ import annotations

import functools
import os

import numpy as np
import pytest
from pyspark.sql import functions as F

from cog3pio_spark.operators.ann import brute_force_topk, lsh_topk
from cog3pio_spark.operators.dedupe import (
    exact_dedupe,
    minhash_lsh_dupes,
    ngram_jaccard_pairs,
    simhash_dupes,
    simhash_hamming_pairs_exact,
)
from cog3pio_spark.operators.multimodal import attach_media_meta, extract_features
from cog3pio_spark.operators.text import text_features


@pytest.fixture(scope="module")
def dup_docs(spark):
    base = [
        "the quick brown fox jumps over the lazy dog again and again",
        "a completely different document about spark query engines",
        "numerical weather prediction with ensemble kalman filters",
    ]
    rows = []
    for i, t in enumerate(base):
        rows.append((f"d{i:03d}a", t))
        rows.append((f"d{i:03d}b", t))  # exact dup
        rows.append((f"d{i:03d}c", t + " tail"))  # near dup
    rows.append(("solo", "entirely unrelated text with zero overlap tokens"))
    return spark.createDataFrame(rows, ["doc_id", "text"])


def test_exact_dedupe(dup_docs):
    out = {r["doc_id"]: r["n_copies"] for r in exact_dedupe(dup_docs).collect()}
    assert out["d000a"] == 2 and out["d001a"] == 2 and out["d002a"] == 2
    assert out["solo"] == 1
    assert "d000b" not in out  # min-id wins


def test_minhash_finds_near_dups(dup_docs):
    pairs = {
        (r["id_a"], r["id_b"])
        for r in minhash_lsh_dupes(dup_docs, jaccard_threshold=0.7).collect()
    }
    # exact dups must be found; near-dups (tail) very likely
    assert ("d000a", "d000b") in pairs
    assert ("d001a", "d001b") in pairs
    # no cross-content false positives at threshold 0.7
    assert not any(a[:4] != b[:4] for a, b in pairs if a != "solo" and b != "solo")


def test_simhash_near_dups(dup_docs):
    pairs = {
        (r["id_a"], r["id_b"]) for r in simhash_dupes(dup_docs, max_hamming=3).collect()
    }
    assert ("d000a", "d000b") in pairs
    assert ("d002a", "d002b") in pairs


def test_ngram_jaccard_exact_values(dup_docs):
    out = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in ngram_jaccard_pairs(dup_docs, n=3, threshold=0.3).collect()
    }
    assert out[("d000a", "d000b")] == 1.0
    # near-dup pair: 10 grams shared, 11 in the longer → 10/11
    assert abs(out[("d000a", "d000c")] - round(10 / 11, 6)) < 1e-9


def test_ann_brute_vs_numpy(spark):
    rng = np.random.RandomState(4)
    mat = rng.randn(200, 16).astype(np.float32)
    df = spark.createDataFrame(
        [(i, [float(x) for x in mat[i]]) for i in range(200)], ["vec_id", "embedding"]
    )
    q = [(0, [float(x) for x in mat[0]])]
    got = brute_force_topk(df, q, k=5).collect()
    # numpy oracle
    m = mat.astype(np.float64)
    m = m / np.linalg.norm(m, axis=1, keepdims=True)
    sims = m @ m[0]
    order = np.lexsort((np.arange(200), -sims))[:5]
    assert [r["vec_id"] for r in sorted(got, key=lambda r: r["rank"])] == list(order)
    assert got[0]["cosine"] == 1.0


def test_lsh_topk_recall(spark):
    rng = np.random.RandomState(8)
    mat = rng.randn(300, 16)
    # plant 5 near-identical vectors of query
    qv = rng.randn(16)
    for i in range(5):
        mat[i] = qv + rng.randn(16) * 0.01
    df = spark.createDataFrame(
        [(i, [float(x) for x in mat[i]]) for i in range(300)], ["vec_id", "embedding"]
    )
    qdf = spark.createDataFrame([(77, [float(x) for x in qv])], ["query_id", "embedding"])
    got = lsh_topk(df, qdf, dim=16, k=5, n_planes=8)
    ids = {r["vec_id"] for r in got.collect()}
    assert len(ids & {0, 1, 2, 3, 4}) >= 3  # high recall on planted dups


def test_ivf_topk_recall(spark):
    from cog3pio_spark.operators.ann import ivf_topk

    rng = np.random.RandomState(13)
    mat = rng.randn(400, 16)
    qv = rng.randn(16)
    for i in range(5):
        mat[i] = qv + rng.randn(16) * 0.01  # planted near-dups
    df = spark.createDataFrame(
        [(i, [float(x) for x in mat[i]]) for i in range(400)], ["vec_id", "embedding"]
    )
    qdf = spark.createDataFrame([(1, [float(x) for x in qv])], ["query_id", "embedding"])
    got = ivf_topk(df, qdf, dim=16, k=5, n_centroids=16, nprobe=4)
    ids = {r["vec_id"] for r in got.collect()}
    assert len(ids & {0, 1, 2, 3, 4}) >= 4  # planted dups share the query's list


def test_doc_table_roundtrip(spark, tmp_path):
    from cog3pio_spark.sources.doc_table import read_doc_table, write_doc_table

    df = spark.range(100).selectExpr(
        "cast(id as string) as doc_id",
        "array(named_struct('kind','text','text','x','media_ref',"
        "cast(null as string),'offset',0)) as spans",
    )
    loc = str(tmp_path / "docs.parquet")
    write_doc_table(df, loc, n_buckets=4)
    back = read_doc_table(spark, loc)
    assert back.count() == 100
    assert back.select("_bucket").distinct().count() == 4  # bucket layout exists


def test_text_features_basics(spark):
    df = spark.createDataFrame(
        [
            ("a", "the cat and the dog went to the house in the garden"),
            ("b", "der hund und die katze das ist nicht gut"),
            ("c", "!!! ??? ... ###"),
        ],
        ["doc_id", "text"],
    )
    out = {r["doc_id"]: r for r in text_features(df).collect()}
    assert out["a"]["n_tokens"] == 12
    assert out["a"]["lang_pred"] == "en"
    assert out["b"]["lang_pred"] == "de"
    assert out["a"]["quality"] > out["c"]["quality"]
    assert out["a"]["fingerprint"] != out["b"]["fingerprint"]


def test_multimodal_plumbing(spark):
    rows = [
        ("m1", bytes([0xFF, 0xD8, 0xFF, 0xE0]) + b"x" * 100),
        ("m2", b"\x89PNG\r\n" + b"y" * 50),
        ("m3", b"II\x2a\x00" + b"z" * 10),
        ("m4", b"freeform-bytes" * 8),
    ]
    df = spark.createDataFrame(rows, ["media_id", "blob"])
    meta = {r["media_id"]: r["media_type"] for r in attach_media_meta(df).collect()}
    assert meta == {
        "m1": "image/jpeg", "m2": "image/png", "m3": "image/tiff",
        "m4": "application/octet-stream",
    }
    feats = extract_features(df).collect()
    assert all(len(r["features"]) == 16 for r in feats)


def test_minhash_zipf_cluster_bounded(spark):
    """VERDICT r1 #7: a Zipf boilerplate cluster (many exact copies of one
    page) must not blow up any (band,bucket) task. With signature-cluster
    collapse the cluster enters LSH as ONE distinct signature and its members
    pair to the representative linearly (star pairs, jaccard_est=1.0)."""
    n_copies, n_distinct = 2000, 120
    rows = [(f"z{i:05d}", "boilerplate cookie banner accept all cookies now")
            for i in range(n_copies)]
    rng = np.random.RandomState(9)
    vocab = ["alpha", "beta", "gamma", "delta", "epsilon", "zeta", "eta"]
    for i in range(n_distinct):
        rows.append((f"u{i:05d}", " ".join(rng.choice(vocab, 12))))
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    out = minhash_lsh_dupes(docs, jaccard_threshold=0.8, bucket_cap=64)
    pairs = out.collect()
    star = [r for r in pairs if r["id_a"] == "z00000" and r["id_b"].startswith("z")]
    # the cluster is fully reported as rep->member star pairs (linear, not n^2)
    assert len(star) == n_copies - 1
    assert all(r["jaccard_est"] == 1.0 for r in star)
    # no quadratic within-cluster expansion
    z_pairs = [r for r in pairs if r["id_a"].startswith("z") and r["id_b"].startswith("z")]
    assert len(z_pairs) == n_copies - 1


def test_curate_refuses_clobbering_caller_columns(spark):
    """r6 review: curate()'s withColumns silently replaced caller columns
    named like its working columns (and a caller 'fp' vanished from the
    output). It must refuse loudly instead."""
    import pytest as _pytest

    from cog3pio_spark.plans.curation import curate

    docs = spark.createDataFrame(
        [(1, "some acceptable quality text here", 0.1)],
        "doc_id long, text string, quality double",
    )
    with _pytest.raises(ValueError, match="quality"):
        curate(docs)


_NULL_TEXT_PAIRS = {
    "minhash": lambda docs: minhash_lsh_dupes(docs, jaccard_threshold=0.5),
    "simhash_blocked": lambda docs: simhash_dupes(docs, max_hamming=3),
    "simhash_exact": lambda docs: simhash_hamming_pairs_exact(docs, max_hamming=3),
}


@pytest.mark.parametrize("api", list(_NULL_TEXT_PAIRS))
def test_null_text_docs_emit_no_pairs(spark, api):
    """NULL text is no document's duplicate: not another NULL's, and not a
    blank document's. NULL used to shingle like the empty string, so
    minhash paired the NULL group's representative with a blank doc at
    jaccard_est 1.0 and simhash paired all four at hamming 0. Blank docs
    are exact duplicates of each other and still pair."""
    real = "some real text repeated across documents here"
    docs = spark.createDataFrame(
        [(1, None), (2, None), (3, ""), (4, "   "), (5, real), (6, real)],
        "doc_id long, text string",
    )
    pairs = _NULL_TEXT_PAIRS[api](docs).collect()
    assert {(r["id_a"], r["id_b"]) for r in pairs} == {(3, 4), (5, 6)}, pairs


@pytest.mark.parametrize("over_cap", ["truncate", "drop"])
@pytest.mark.parametrize("extra", [0, 1])
def test_candidate_pairs_cap_boundary(spark, over_cap, extra):
    """The skeleton's cap is ≤: a block of exactly ``cap`` members is kept
    whole and unflagged under both policies; at ``cap + 1`` ``drop`` removes
    the block and ``truncate`` keeps the ``cap`` smallest ids, flagged. A
    second, small block is never touched."""
    from itertools import combinations

    from cog3pio_spark.operators.dedupe import _candidate_pairs

    cap = 4
    hot = list(range(10 + cap + extra - 1, 9, -1))  # descending: truncation must sort
    keyed = spark.createDataFrame(
        [(i, 7) for i in hot] + [(1, 8), (2, 8)], "doc_id long, blk long"
    )
    rows = _candidate_pairs(keyed, "doc_id", cap, over_cap).collect()
    got = sorted((r["id_a"], r["id_b"]) for r in rows)
    kept = [] if (extra and over_cap == "drop") else sorted(hot)[:cap]
    assert got == sorted([(1, 2)] + list(combinations(kept, 2)))
    if over_cap == "truncate":
        flagged = {(r["id_a"], r["id_b"]) for r in rows if r["overflow"]}
        assert flagged == (set(combinations(kept, 2)) if extra else set())


def test_minhash_bucket_cap_flags_overflow(spark):
    """Distinct-signature hot buckets are capped and flagged, never unbounded."""
    rng = np.random.RandomState(11)
    vocab = ["lorem", "ipsum", "dolor", "sit", "amet"]
    # many distinct docs sharing long common prefixes -> shared bands
    rows = [(f"p{i:04d}",
             "common shared prefix phrase repeated here " * 3 + " ".join(rng.choice(vocab, 2)))
            for i in range(80)]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    out = minhash_lsh_dupes(docs, jaccard_threshold=0.5, bucket_cap=8)
    rows_out = out.collect()
    assert rows_out, "expected near-dup pairs"
    assert any(r["bucket_overflow"] for r in rows_out), "cap never triggered"


def test_simhash_blocking_plan_invariant(dup_docs):
    """Output must be independent of the multi-index blocking plan (the exact
    Hamming filter guarantees it): s=4/combo1 == s=6/combo3 == s=7/combo4."""
    base = {
        (r["id_a"], r["id_b"], r["hamming"])
        for r in simhash_dupes(dup_docs, max_hamming=3, segments=4).collect()
    }
    for s in (6, 7):
        got = {
            (r["id_a"], r["id_b"], r["hamming"])
            for r in simhash_dupes(dup_docs, max_hamming=3, segments=s).collect()
        }
        assert got == base, f"segments={s} diverged"


def test_ngram_df_cap_drops_stop_gram_only_pairs(spark):
    """Pairs whose only overlap is a >cap stop-gram disappear; pairs with any
    rare shared gram survive with the exact (pre-cap-size) Jaccard."""
    stop = "click here now"
    rows = [(f"s{i:02d}", f"{stop} unique{i} tail{i} word{i}") for i in range(12)]
    rows.append(("r1", "rare shared phrase one two three"))
    rows.append(("r2", "rare shared phrase one two plus"))
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in ngram_jaccard_pairs(docs, n=3, threshold=0.05, df_cap=5).collect()
    }
    # stop-gram-only pairs are gone (the gram "click here now" has df=12 > 5)
    assert not any(a.startswith("s") and b.startswith("s") for a, b in out)
    # rare-gram pair survives: shares 'rare shared phrase','shared phrase one',
    # 'phrase one two' = 3 of (4+4-3)=5 grams
    assert abs(out[("r1", "r2")] - 0.6) < 1e-9


def test_blocked_top_pairs_on_near_dups(spark):
    """The blocked variant's real use case: corpora with genuinely similar
    top pairs. Planted near-dups (cosine ~1) must be retrieved exactly, and
    the result must match the exact all-pairs variant."""
    from cog3pio_spark.operators.ann import top_cosine_pairs, top_cosine_pairs_blocked

    rng = np.random.RandomState(17)
    mat = rng.randn(300, 32)
    for i in range(10):  # 10 planted near-dup pairs
        mat[200 + i] = mat[i] + rng.randn(32) * 0.01
    df = spark.createDataFrame(
        [(i, [float(x) for x in mat[i]]) for i in range(300)], ["vec_id", "embedding"]
    )
    exact = {(r.id_a, r.id_b) for r in top_cosine_pairs(df, top_n=10).collect()}
    blocked = {
        (r.id_a, r.id_b)
        for r in top_cosine_pairs_blocked(df, dim=32, top_n=10).collect()
    }
    assert exact == {(i, 200 + i) for i in range(10)}
    assert blocked == exact


def test_embedding_dupes_matches_exact_on_planted(spark):
    """q51 kernel (gram-matrix blocked threshold pairs) retrieves exactly the
    planted near-dup pairs — equal to a brute-force threshold scan."""
    from cog3pio_spark.operators.ann import embedding_dupes

    rng = np.random.RandomState(23)
    mat = rng.randn(300, 32)
    for i in range(8):
        mat[200 + i] = mat[i] + rng.randn(32) * 0.01
    df = spark.createDataFrame(
        [(i, [float(x) for x in mat[i]]) for i in range(300)], ["vec_id", "embedding"]
    )
    got = {(r.id_a, r.id_b) for r in embedding_dupes(df, dim=32, threshold=0.95).collect()}
    norm = mat / np.linalg.norm(mat, axis=1, keepdims=True)
    sims = norm @ norm.T
    iu, ju = np.triu_indices(300, 1)
    exact = {(int(a), int(b)) for a, b in zip(iu[sims[iu, ju] >= 0.95], ju[sims[iu, ju] >= 0.95])}
    assert got == exact == {(i, 200 + i) for i in range(8)}


def test_dupes_plane_count_recall_clamp():
    """The auto plane count must never sacrifice the stated recall for
    bucket size: at 1e9 rows the size rule alone wants 22 planes, where
    16 tables would miss ~20% of cosine-0.95 pairs; the clamp caps planes
    so (1 - p^k)^tables stays within 1 - recall_target at any scale."""
    from cog3pio_spark.operators.ann import dupes_plane_count

    # small corpus: size rule binds (2 planes), clamp doesn't
    assert dupes_plane_count(500, 0.45, 16, 0.95) == 2
    # web scale: clamp binds
    k = dupes_plane_count(10**9, 0.95, 16, 0.95)
    p = 1.0 - np.arccos(0.95) / np.pi
    miss = (1.0 - p**k) ** 16
    assert miss <= 0.05, (k, miss)
    assert k < 22  # the unclamped size rule would have picked 22


def test_embedding_dupes_hot_bucket_bounded(spark):
    """VERDICT r2 #1 regression pin: one bucket holding a large near-dup
    cluster must stay bounded — the kernel caps each (table, bucket) group at
    ``bucket_cap`` id-sorted rows, so candidate volume is ≤ C(cap, 2) per
    bucket, never C(n, 2). (In the spirit of
    test_minhash_zipf_cluster_bounded.)"""
    from cog3pio_spark.operators.ann import embedding_dupes

    rng = np.random.RandomState(29)
    base = rng.randn(16)
    n = 2000
    mat = base[None, :] + rng.randn(n, 16) * 1e-3  # one hot direction
    df = spark.createDataFrame(
        [(i, [float(x) for x in mat[i]]) for i in range(n)], ["vec_id", "embedding"]
    )
    out = embedding_dupes(df, dim=16, threshold=0.9, bucket_cap=64).collect()
    # every table's bucket holds all n rows; the cap keeps only ids 0..63, so
    # the deduped output is exactly the C(64,2) head pairs — not C(2000,2)
    assert len(out) == 64 * 63 // 2
    assert max(max(r.id_a, r.id_b) for r in out) < 64


@pytest.mark.parametrize("query", ["q47_top_pairs_blocked", "q51_embedding_dupes"])
def test_lsh_pairs_block_through_the_pair_skeleton(spark, query):
    """q47/q51 block through the pair skeleton (dedupe._capped_blocks): no
    grouped pandas kernel, and exactly one exchange — hash on the block key —
    between the table-bucket UDF and the gram-matrix kernel."""
    import os

    import __spark_entry__ as E

    sf = "/root/testdata/sf0.01"
    if not os.path.isdir(sf):
        pytest.skip("sf0.01 test data not present")
    plan = E.queries()[query](spark, sf)._jdf.queryExecution().executedPlan().toString()
    assert "FlatMapGroupsInPandas" not in plan
    lines = plan.splitlines()
    kernel = next(i for i, ln in enumerate(lines) if "MapInArrow _gram_pairs" in ln)
    udf = next(i for i, ln in enumerate(lines) if "ArrowEvalPython [_table_buckets" in ln)
    exchanges = [ln for ln in lines[kernel:udf] if "Exchange" in ln]
    assert len(exchanges) == 1 and "Exchange hashpartitioning(blk#" in exchanges[0], plan


def test_doc_table_fallback_partition_pruning(spark, tmp_path):
    """VERDICT r1 #9 contract test: the parquet fallback must deliver the
    partition pruning the Iceberg path promises — a bucket-key lookup scans
    ONE _bucket partition, not all of them (PartitionFilters in the scan)."""
    from cog3pio_spark.sources.doc_table import read_doc_table, write_doc_table

    df = spark.range(400).selectExpr(
        "cast(id as string) as doc_id",
        "array(named_struct('kind','text','text','x','media_ref',"
        "cast(null as string),'offset',0)) as spans",
    )
    loc = str(tmp_path / "docs.parquet")
    write_doc_table(df, loc, n_buckets=8)
    back = read_doc_table(spark, loc)
    # bucket-key predicate: the same expression the writer materialized
    probe = back.filter(
        F.pmod(F.xxhash64(F.col("doc_id")), F.lit(8)).cast("int") == F.col("_bucket")
    ).filter(F.col("_bucket") == 3)
    probe.collect()
    plan = probe._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan
    # the partition filter must mention _bucket (pruning at file-listing time)
    pf = [ln for ln in plan.splitlines() if "PartitionFilters" in ln][0]
    assert "_bucket" in pf and "3" in pf, pf
    # pruned read touches exactly the one bucket's rows
    n3 = back.filter(F.col("_bucket") == 3).count()
    assert probe.count() == n3 and 0 < n3 < 400


def test_ivf2_topk_recall(spark):
    """Two-level IVF: planted near-dups must be retrieved (they share the
    query's coarse+fine list); recall vs brute force high on clustered data."""
    from cog3pio_spark.operators.ann import brute_force_topk, ivf2_topk

    rng = np.random.RandomState(23)
    mat = rng.randn(500, 16)
    qv = rng.randn(16)
    for i in range(6):
        mat[i] = qv + rng.randn(16) * 0.01
    df = spark.createDataFrame(
        [(i, [float(x) for x in mat[i]]) for i in range(500)], ["vec_id", "embedding"]
    )
    qdf = spark.createDataFrame([(9, [float(x) for x in qv])], ["query_id", "embedding"])
    got = ivf2_topk(df, qdf, dim=16, k=6, n_coarse=6, n_fine=4,
                    nprobe_coarse=2, nprobe_fine=2)
    ids = {r["vec_id"] for r in got.collect()}
    assert len(ids & {0, 1, 2, 3, 4, 5}) >= 5


def test_lsh_multiprobe_improves_recall(spark):
    """Multi-probe recall (n_probes=11, the fan-out of the Hamming-1 ball
    at 10 planes) ⊇ single-bucket recall (the n_probes=1 default) on
    planted near-dups."""
    rng = np.random.RandomState(41)
    mat = rng.randn(400, 16)
    qv = rng.randn(16)
    for i in range(8):
        mat[i] = qv + rng.randn(16) * 0.05  # looser dups: some cross planes
    df = spark.createDataFrame(
        [(i, [float(x) for x in mat[i]]) for i in range(400)], ["vec_id", "embedding"]
    )
    qdf = spark.createDataFrame([(5, [float(x) for x in qv])], ["query_id", "embedding"])
    base = {r["vec_id"] for r in lsh_topk(df, qdf, dim=16, k=8, n_planes=10).collect()}
    multi = {
        r["vec_id"]
        for r in lsh_topk(df, qdf, dim=16, k=8, n_planes=10, n_probes=11).collect()
    }
    planted = set(range(8))
    assert len(multi & planted) >= len(base & planted)
    assert len(multi & planted) >= 6  # multiprobe finds most planted dups


def test_lsh_query_directed_probes_bounded_and_effective(spark):
    """r3 multi-probe upgrade: query-directed probing (n_probes=T, flips
    ranked by |margin|) must (a) emit exactly T distinct probes per query at
    any n_planes — a Hamming ball grows as C(p,2) — and (b) recover at least
    as many planted near-dups as the full Hamming-1 ball (probed here by a
    test-local ball through the same indexed core) while probing FEWER
    buckets."""
    from pyspark.sql import types as T

    from cog3pio_spark.operators.ann import _buckets, _directed_probes, _indexed_topk, _lsh_planes

    rng = np.random.RandomState(43)
    mat = rng.randn(400, 16)
    qv = rng.randn(16)
    for i in range(8):
        mat[i] = qv + rng.randn(16) * 0.05
    df = spark.createDataFrame(
        [(i, [float(x) for x in mat[i]]) for i in range(400)], ["vec_id", "embedding"]
    )
    qdf = spark.createDataFrame([(5, [float(x) for x in qv])], ["query_id", "embedding"])

    planes = _lsh_planes(16, 10)  # lsh_topk's planes at dim=16, n_planes=10
    probes = _directed_probes(qv[None, :], planes, 6)[0]
    assert len(probes) == 6 and len(set(probes)) == 6  # bounded, distinct

    planted = set(range(8))
    ball = np.r_[0, np.int64(1) << np.arange(10)]  # full Hamming-1 ball: 11 probes/query
    ham1 = {
        r["vec_id"]
        for r in _indexed_topk(
            df, qdf, lambda mat: _buckets(mat @ planes),
            lambda qmat: _buckets(qmat @ planes)[:, None] ^ ball, 8,
            id_col="vec_id", vec_col="embedding", query_id_col="query_id",
            list_type=T.LongType(),
        ).collect()
    }
    directed = {  # 6 directed probes/query — nearly half the fan-out
        r["vec_id"]
        for r in lsh_topk(df, qdf, dim=16, k=8, n_planes=10, n_probes=6).collect()
    }
    assert len(directed & planted) >= len(ham1 & planted)
    assert len(directed & planted) >= 6


def test_lsh_single_probe_is_the_home_bucket():
    """n_probes=1 (lsh_topk's default) probes exactly each query's home
    bucket; n_probes < 1 is refused (a slice to n_probes − 1 = −1 would
    otherwise keep every flip but one)."""
    from cog3pio_spark.operators.ann import _buckets, _directed_probes, _lsh_planes

    planes = _lsh_planes(16, 10)
    q = np.random.RandomState(47).randn(50, 16)
    np.testing.assert_array_equal(_directed_probes(q, planes, 1), _buckets(q @ planes)[:, None])
    with pytest.raises(ValueError, match="n_probes=0"):
        _directed_probes(q, planes, 0)


def test_resize_media_real_tiff(spark, tmp_path):
    """resize_media REALLY resizes TIFF blobs (in-repo codec): dims change,
    dtype/bands preserved, resampled pixels exact vs the numpy oracle;
    non-TIFF blobs get the honest unsupported row."""
    from cog3pio_spark.operators.multimodal import resize_media
    from cog3pio_spark.tiff.reader import CogReader
    from cog3pio_spark.tiff.writer import write_tiff

    arr = (np.arange(2 * 40 * 60).reshape(2, 40, 60) % 251).astype("uint8")
    p = str(tmp_path / "r.tif")
    write_tiff(p, arr, compression="lzw")
    rows = [("t1", open(p, "rb").read()), ("p1", b"\x89PNG\r\n" + b"x" * 40)]
    df = spark.createDataFrame(rows, ["media_id", "blob"])
    got = {r["media_id"]: r for r in resize_media(df, 30, 20).collect()}

    ok = got["t1"]
    assert ok["status"] == "ok" and (ok["width"], ok["height"]) == (30, 20)
    back = CogReader(bytes(ok["resized"])).to_numpy()
    assert back.shape == (2, 20, 30) and back.dtype == arr.dtype
    yi = ((np.arange(20) + 0.5) * 40 / 20).astype(int)
    xi = ((np.arange(30) + 0.5) * 60 / 30).astype(int)
    np.testing.assert_array_equal(back, arr[:, yi][:, :, xi])

    bad = got["p1"]
    assert bad["status"] == "unsupported" and "TIFF" in bad["error_msg"]


def test_pq_topk_recall(spark):
    """Product-quantized ADC top-k: planted near-dups of the query must
    dominate the top-k despite 8x compression (codes only at scan time)."""
    from cog3pio_spark.operators.ann import pq_topk

    rng = np.random.RandomState(53)
    mat = rng.randn(500, 16)
    qv = rng.randn(16)
    for i in range(6):
        mat[i] = qv + rng.randn(16) * 0.02
    df = spark.createDataFrame(
        [(i, [float(x) for x in mat[i]]) for i in range(500)], ["vec_id", "embedding"]
    )
    qdf = spark.createDataFrame([(3, [float(x) for x in qv])], ["query_id", "embedding"])
    got = pq_topk(df, qdf, dim=16, k=6, m=4)
    ids = {r["vec_id"] for r in got.collect()}
    assert len(ids & {0, 1, 2, 3, 4, 5}) >= 5


def test_ivfpq_topk_recall(spark):
    """IVF×PQ composition (VERDICT r2 #4): list pruning + quantized scoring
    still retrieves the planted near-dups (they share the query's list), and
    recall is no worse than the overlap target the standalone kernels hit."""
    from cog3pio_spark.operators.ann import ivfpq_topk

    rng = np.random.RandomState(61)
    mat = rng.randn(500, 16)
    qv = rng.randn(16)
    for i in range(6):
        mat[i] = qv + rng.randn(16) * 0.02
    df = spark.createDataFrame(
        [(i, [float(x) for x in mat[i]]) for i in range(500)], ["vec_id", "embedding"]
    )
    qdf = spark.createDataFrame([(3, [float(x) for x in qv])], ["query_id", "embedding"])
    got = ivfpq_topk(df, qdf, dim=16, k=6, m=4, n_centroids=8, nprobe=3)
    ids = {r["vec_id"] for r in got.collect()}
    assert len(ids & {0, 1, 2, 3, 4, 5}) >= 5


def test_ivfpq_residual_beats_raw(spark):
    """IVFADC residual encoding: quantizing v − c(v) must rank at least as
    many true top-k neighbors as quantizing raw vectors at the same byte
    budget (residual spread ≪ raw spread ⇒ finer codewords)."""
    from cog3pio_spark.operators.ann import brute_force_topk, ivfpq_topk

    rng = np.random.RandomState(71)
    # clustered corpus (real embedding spaces cluster; residuals are the
    # within-cluster offsets the finer codewords capture)
    centers = rng.randn(8, 16) * 3
    mat = np.vstack([centers[i % 8] + rng.randn(1, 16) for i in range(600)])
    qv = centers[3] + rng.randn(16)
    df = spark.createDataFrame(
        [(i, [float(x) for x in mat[i]]) for i in range(600)], ["vec_id", "embedding"]
    )
    qdf = spark.createDataFrame([(9, [float(x) for x in qv])], ["query_id", "embedding"])
    truth = {r["vec_id"] for r in brute_force_topk(df, [(9, list(qv))], k=10).collect()}
    raw = {
        r["vec_id"]
        for r in ivfpq_topk(df, qdf, dim=16, k=10, m=4, n_centroids=8,
                            nprobe=8, residual=False).collect()
    }
    res = {
        r["vec_id"]
        for r in ivfpq_topk(df, qdf, dim=16, k=10, m=4, n_centroids=8,
                            nprobe=8, residual=True).collect()
    }
    # nprobe = all lists isolates the QUANTIZATION error from list pruning
    assert len(res & truth) >= len(raw & truth)
    assert len(res & truth) >= 6


def test_ivfpq_scan_prunes_lists(spark, tmp_path):
    """The probed-list isin predicate must reach the file source as a
    PARTITION filter over an ivf_list-partitioned layout — the scan reads
    only probed lists' files, which is the whole point of IVF at 10⁹
    vectors (VERDICT r2 #4: 'a plan showing the scan side reduced to probed
    lists')."""
    from cog3pio_spark.operators.ann import (
        ivfpq_encode,
        ivfpq_topk,
        train_ivf_centroids,
        train_pq_codebooks,
    )

    rng = np.random.RandomState(67)
    mat = rng.randn(400, 16)
    df = spark.createDataFrame(
        [(i, [float(x) for x in mat[i]]) for i in range(400)], ["vec_id", "embedding"]
    )
    cents = train_ivf_centroids(df, 16, n_centroids=8)
    books = train_pq_codebooks(df, 16, m=4, centroids=cents)  # residual contract
    idx_path = str(tmp_path / "ivfpq_index")
    ivfpq_encode(df, cents, books).write.partitionBy("ivf_list").parquet(idx_path)
    encoded = spark.read.parquet(idx_path)

    qdf = spark.createDataFrame(
        [(1, [float(x) for x in rng.randn(16)])], ["query_id", "embedding"]
    )
    out = ivfpq_topk(
        df, qdf, dim=16, k=5, m=4, n_centroids=8, nprobe=2,
        encoded=encoded, centroids=cents, books=books,
    )
    out.collect()
    plan = out._jdf.queryExecution().executedPlan().toString()
    # (match on the FileScan's PartitionFilters, not the Location path —
    # plan toString truncates long pytest tmp paths)
    scan_lines = [ln for ln in plan.splitlines() if "FileScan parquet" in ln]
    assert scan_lines, "expected a file scan of the persisted index"
    import re

    assert any(
        re.search(r"PartitionFilters: \[ivf_list#\d+ IN \(", ln) for ln in scan_lines
    ), (
        "probed-list predicate did not reach the partition filter:\n"
        + "\n".join(scan_lines)
    )


def test_trainers_are_pinned(spark):
    """The codebook and centroid trainers are bit-reproducible: their
    sample size, seeds and iteration counts are fixed, so their output on
    one seeded frame is pinned by sha256. (The registry's indexed top-ks
    run at lossless configurations, where centroid drift cannot show.)"""
    import hashlib

    from cog3pio_spark.operators.ann import (
        train_ivf2_centroids,
        train_ivf_centroids,
        train_pq_codebooks,
    )

    rng = np.random.RandomState(97)
    centers = rng.randn(6, 16) * 3
    mat = np.vstack([centers[i % 6] + rng.randn(16) for i in range(500)])
    df = spark.createDataFrame(
        [(i, [float(x) for x in mat[i]]) for i in range(500)],
        "vec_id long, embedding array<double>",
    )
    cents = train_ivf_centroids(df, 16, n_centroids=8)
    coarse, fine = train_ivf2_centroids(df, 16, n_coarse=4, n_fine=4)
    got = {
        "ivf": cents,
        "ivf2_coarse": coarse,
        "ivf2_fine": fine,
        "pq_raw": train_pq_codebooks(df, 16, m=4),
        "pq_residual": train_pq_codebooks(df, 16, m=4, centroids=cents),
    }
    shapes = {k: a.shape for k, a in got.items()}
    assert shapes == {"ivf": (8, 16), "ivf2_coarse": (4, 16), "ivf2_fine": (4, 4, 16),
                      "pq_raw": (4, 256, 4), "pq_residual": (4, 256, 4)}
    digests = {
        k: hashlib.sha256(np.ascontiguousarray(a, dtype=np.float64).tobytes()).hexdigest()
        for k, a in got.items()
    }
    assert digests == {
        "ivf": "8475f3c4b071fe9da545407932c7e41fe36b00e710e03bafed924013d633ddc5",
        "ivf2_coarse": "30a4a8d8c6c09a22ccb504ff93ab0750f92b4e6cd23af235156d959dc7525f3b",
        "ivf2_fine": "304ada4ddbef88ba2d9fe19a022e213c425ee4f408be6fb89fb9a4c9e1738486",
        "pq_raw": "32203695219896f49aa56805413e8cc758512e5ab348d24ab34688fa2830e987",
        "pq_residual": "97d8aa41938668df40989719af3f291d4af751f6a7e9934133ba745f87b4131b",
    }


def test_top_cosine_pairs_guard_refuses_large_corpus(spark):
    """The exact all-pairs variant is the oracle anchor, not a scale API: it
    must refuse oversized corpora unless max_rows is raised explicitly."""
    import pytest

    from cog3pio_spark.operators.ann import top_cosine_pairs

    df = spark.range(50).select(
        F.col("id").alias("vec_id"),
        F.array(*[F.rand(seed=7) for _ in range(4)]).alias("embedding"),
    )
    with pytest.raises(ValueError, match="oracle anchor"):
        top_cosine_pairs(df, top_n=3, max_rows=10)
    assert top_cosine_pairs(df, top_n=3).count() == 3  # default guard passes


def test_audio_wav_real_decode(spark):
    """WAV is the second REAL media codec (after TIFF): metadata exact
    against the stdlib wave writer, per-window RMS/peak/zero-crossings
    exact against the numpy oracle on a known sine, honest error rows for
    non-RIFF blobs."""
    import io
    import wave

    from cog3pio_spark.operators.multimodal import audio_features, audio_meta

    sr, secs, freq, amp = 8000, 1, 440.0, 0.5
    t = np.arange(sr * secs) / sr
    sig = amp * np.sin(2 * np.pi * freq * t)
    pcm = (sig * 32767).astype(np.int16)
    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(1)
        w.setsampwidth(2)
        w.setframerate(sr)
        w.writeframes(pcm.tobytes())
    wav_bytes = buf.getvalue()

    rows = [("sine", wav_bytes), ("junk", b"not-audio-at-all" * 4)]
    df = spark.createDataFrame(rows, ["media_id", "blob"])

    meta = {r["media_id"]: r for r in audio_meta(df).collect()}
    ok = meta["sine"]
    assert ok["status"] == "ok" and ok["codec"] == "pcm_s16le"
    assert (ok["channels"], ok["sample_rate"], ok["bit_depth"]) == (1, sr, 16)
    assert ok["n_samples"] == sr * secs and abs(ok["duration_s"] - secs) < 1e-9
    bad = meta["junk"]
    assert bad["status"] == "error" and "RIFF/WAVE" in bad["error_msg"]

    feats = sorted(
        (r for r in audio_features(df, window_ms=100).collect()),
        key=lambda r: r["window_idx"],
    )
    assert len(feats) == 10 and all(r["media_id"] == "sine" for r in feats)
    # numpy oracle on the decoded (quantized) samples
    dec = pcm.astype(np.float64) / 32768.0
    w0 = dec[:800]
    assert abs(feats[0]["rms"] - np.sqrt((w0 * w0).mean())) < 1e-9
    assert abs(feats[0]["peak"] - np.abs(w0).max()) < 1e-9
    assert feats[0]["zero_crossings"] == int((np.diff(np.signbit(w0)) != 0).sum())
    # a 440 Hz sine crosses zero ~88 times per 100 ms window
    assert 80 <= feats[0]["zero_crossings"] <= 96


def test_audio_wav_float32_and_stereo(spark):
    """IEEE-float WAV (format 3) and stereo channel averaging decode
    exactly (hand-built RIFF — no stdlib float support)."""
    import struct

    from cog3pio_spark.operators.multimodal import audio_features, audio_meta

    sr = 1000
    left = np.linspace(-1, 1, 500, dtype=np.float32)
    right = -left
    inter = np.empty(1000, dtype=np.float32)
    inter[0::2], inter[1::2] = left, right
    data = inter.tobytes()
    fmt = struct.pack("<HHIIHH", 3, 2, sr, sr * 8, 8, 32)
    raw = (
        b"RIFF" + struct.pack("<I", 4 + 8 + len(fmt) + 8 + len(data)) + b"WAVE"
        + b"fmt " + struct.pack("<I", len(fmt)) + fmt
        + b"data" + struct.pack("<I", len(data)) + data
    )
    df = spark.createDataFrame([("f32", raw)], ["media_id", "blob"])
    m = audio_meta(df).collect()[0]
    assert m["status"] == "ok" and m["codec"] == "pcm_f32le"
    assert m["channels"] == 2 and m["n_samples"] == 500
    # stereo averages to 0 everywhere -> rms 0 in every window
    f = audio_features(df, window_ms=100).collect()
    assert len(f) == 5 and all(abs(r["rms"]) < 1e-12 for r in f)


def _mini_mp4(duration_s=2.5, timescale=1000, w=640, h=360, v1=False):
    """Minimal valid ISO-BMFF: ftyp + moov{mvhd, trak{tkhd}} (struct-built)."""
    import struct

    def box(btype, payload):
        return struct.pack(">I4s", 8 + len(payload), btype) + payload

    if v1:
        mvhd = bytes([1, 0, 0, 0]) + b"\x00" * 16 + struct.pack(
            ">IQ", timescale, int(duration_s * timescale)) + b"\x00" * 80
    else:
        mvhd = bytes(4) + b"\x00" * 8 + struct.pack(
            ">II", timescale, int(duration_s * timescale)) + b"\x00" * 80
    tkhd = bytes(4) + b"\x00" * 72 + struct.pack(">II", w << 16, h << 16)
    trak = box(b"trak", box(b"tkhd", tkhd))
    moov = box(b"moov", box(b"mvhd", mvhd) + trak)
    return box(b"ftyp", b"isom" + b"\x00" * 8) + moov


def test_video_mp4_container_metadata(spark):
    """MP4/ISO-BMFF container metadata is REAL (struct box walk): brand,
    mvhd duration (v0 and v1 boxes), track count, 16.16 fixed-point video
    dimensions; junk blobs get the honest error row; magic sniffing labels
    ftyp streams video/mp4."""
    from cog3pio_spark.operators.multimodal import attach_media_meta, video_meta

    rows = [
        ("v0", _mini_mp4(duration_s=2.5)),
        ("v1", _mini_mp4(duration_s=7.25, timescale=90000, w=1920, h=1080, v1=True)),
        ("junk", b"\x00\x00\x00\x08beef" + b"x" * 16),
    ]
    df = spark.createDataFrame(rows, ["media_id", "blob"])
    got = {r["media_id"]: r for r in video_meta(df).collect()}

    a = got["v0"]
    assert a["status"] == "ok" and a["brand"] == "isom"
    assert abs(a["duration_s"] - 2.5) < 1e-9
    assert (a["n_tracks"], a["width"], a["height"]) == (1, 640, 360)
    b = got["v1"]
    assert abs(b["duration_s"] - 7.25) < 1e-9
    assert (b["width"], b["height"]) == (1920, 1080)
    assert got["junk"]["status"] == "error"
    assert "Cannot parse video" in got["junk"]["error_msg"]

    types = {r["media_id"]: r["media_type"] for r in attach_media_meta(df).collect()}
    assert types["v0"] == "video/mp4" and types["junk"] == "application/octet-stream"


def test_pq_query_guard_raises_before_collect(spark, monkeypatch):
    """VERDICT r3 #2: the PQ/IVFPQ LUT paths collect the query set to the
    driver (serving shape) — a query set over MAX_QUERIES must raise loudly
    BEFORE any collect, via a bounded limit(max+1) probe, never OOM the
    driver."""
    from cog3pio_spark.operators import ann
    from cog3pio_spark.operators.ann import ivfpq_topk, pq_topk

    monkeypatch.setattr(ann, "MAX_QUERIES", 10)

    rng = np.random.RandomState(5)
    mat = rng.randn(40, 8)
    df = spark.createDataFrame(
        [(i, [float(x) for x in mat[i]]) for i in range(40)], ["vec_id", "embedding"]
    )
    qdf = df.withColumnRenamed("vec_id", "query_id")
    with pytest.raises(ValueError, match="max_queries=10"):
        pq_topk(df, qdf, dim=8, k=3, m=4)
    with pytest.raises(ValueError, match="max_queries=10"):
        ivfpq_topk(df, qdf, dim=8, k=3, m=4, n_centroids=4, nprobe=2)
    # at/below the bound both run fine
    small = qdf.filter(F.col("query_id") < 3)
    assert pq_topk(df, small, dim=8, k=3, m=4).count() == 9


def test_pq_ivfpq_string_query_ids_and_column_name(spark):
    """ADVICE r3: pq_topk/ivfpq_topk must preserve the query-id DTYPE
    (string ids used to crash on np.int64 coercion) and the caller's
    query_id_col NAME in the output schema, matching lsh_topk/ivf_topk."""
    from cog3pio_spark.operators.ann import ivf2_topk, ivf_topk, ivfpq_topk, lsh_topk, pq_topk

    rng = np.random.RandomState(11)
    mat = rng.randn(60, 8)
    df = spark.createDataFrame(
        [(i, [float(x) for x in mat[i]]) for i in range(60)], ["vec_id", "embedding"]
    )
    qdf = spark.createDataFrame(
        [("qa", [float(x) for x in mat[7]]), ("qb", [float(x) for x in mat[9]])],
        ["qname", "embedding"],
    )
    for op, kw in (
        (pq_topk, {"m": 4}),
        (ivfpq_topk, {"m": 4, "n_centroids": 4, "nprobe": 4}),
        (lsh_topk, {"n_planes": 2, "n_probes": 4}),
        (ivf_topk, {"n_centroids": 4, "nprobe": 4}),
        (ivf2_topk, {"n_coarse": 2, "n_fine": 2, "nprobe_coarse": 2, "nprobe_fine": 2}),
    ):
        got = op(df, qdf, dim=8, k=3, query_id_col="qname", **kw)
        assert got.columns[0] == "qname"
        assert dict(got.dtypes)["qname"] == "string"
        rows = got.collect()
        assert {r["qname"] for r in rows} == {"qa", "qb"}
        # each query's own vector is its cosine-1.0 top hit
        best = {r["qname"]: r["vec_id"] for r in rows if r["rank"] == 1}
        assert best == {"qa": 7, "qb": 9}


def _ann_topk(api, vectors, qdf, k=5, **kw):
    """Run one top-k API on a DataFrame query set; brute_force_topk takes
    the collected (id, vector) list."""
    from cog3pio_spark.operators import ann

    if api == "brute":
        qs = [(r[0], r[1]) for r in qdf.collect()]
        return ann.brute_force_topk(vectors, qs, k=k)
    return getattr(ann, f"{api}_topk")(vectors, qdf, k=k, **kw)


_NONFINITE_CONFIGS = {
    "brute": {},
    "lsh": {"dim": 16, "n_planes": 4, "n_probes": 3},
    "ivf": {"dim": 16, "n_centroids": 8, "nprobe": 2},
    "ivf2": {"dim": 16, "n_coarse": 4, "n_fine": 2, "nprobe_coarse": 2, "nprobe_fine": 1},
    "pq": {"dim": 16, "m": 4},
    "ivfpq": {"dim": 16, "m": 4, "n_centroids": 8, "nprobe": 2},
}


@pytest.mark.parametrize("api", list(_NONFINITE_CONFIGS))
def test_ann_nonfinite_embeddings_ignored(spark, api):
    """NULL and non-finite embeddings are never trained on, indexed or
    scored: a corpus with one NaN, one +inf and one NULL row must give
    exactly the clean corpus's top-k (a NULL used to crash every API; one
    NaN turned a centroid NaN, so ivfpq_topk returned no rows and pq_topk
    ranked NULL scores first). Such a query vector is refused."""
    kw = _NONFINITE_CONFIGS[api]
    rng = np.random.RandomState(29)
    mat = rng.randn(300, 16)
    schema = "vec_id long, embedding array<double>"
    clean = [(i, [float(x) for x in mat[i]]) for i in range(300)]
    bad = [
        (1000, [float("nan")] + [1.0] * 15),
        (1001, [1.0] * 15 + [float("inf")]),
        (1002, None),
    ]
    qdf = spark.createDataFrame(
        [(1, [float(x) for x in mat[3] + 0.1 * rng.randn(16)]), (2, clean[40][1])],
        ["query_id", "embedding"],
    )
    want = sorted(_ann_topk(api, spark.createDataFrame(clean, schema), qdf, **kw).collect())
    dirty = spark.createDataFrame(clean + bad, schema)
    got = sorted(_ann_topk(api, dirty, qdf, **kw).collect())
    assert got == want and len(want) == 10

    for vec in ([float("nan")] * 16, None):
        bad_q = spark.createDataFrame([(9, vec)], "query_id long, embedding array<double>")
        with pytest.raises(ValueError, match="query vector"):
            _ann_topk(api, dirty, bad_q, **kw)


_PAIR_FAMILY = {
    "top_cosine_pairs": lambda ann, df: ann.top_cosine_pairs(df, top_n=10),
    "top_cosine_pairs_blocked": lambda ann, df: ann.top_cosine_pairs_blocked(
        df, dim=16, top_n=10
    ),
    "embedding_dupes": lambda ann, df: ann.embedding_dupes(df, dim=16, threshold=0.9),
}


@pytest.mark.parametrize("api", list(_PAIR_FAMILY))
def test_ann_pair_family_nonfinite_embeddings_ignored(spark, api):
    """The pair family skips NULL and non-finite embeddings the way the
    top-k family does: a clean corpus plus one NaN, one +inf and one NULL
    row gives exactly the clean corpus's pairs (a NULL embedding used to
    raise inside the Python kernels)."""
    from cog3pio_spark.operators import ann

    rng = np.random.RandomState(31)
    mat = rng.randn(300, 16)
    for i in range(10):  # planted near-dups, so every API has pairs to find
        mat[200 + i] = mat[i] + rng.randn(16) * 0.01
    schema = "vec_id long, embedding array<double>"
    clean = [(i, [float(x) for x in mat[i]]) for i in range(300)]
    bad = [
        (1000, [float("nan")] + [1.0] * 15),
        (1001, [1.0] * 15 + [float("inf")]),
        (1002, None),
    ]
    run = _PAIR_FAMILY[api]
    want = sorted(run(ann, spark.createDataFrame(clean, schema)).collect())
    got = sorted(run(ann, spark.createDataFrame(clean + bad, schema)).collect())
    assert got == want and len(want) >= 10


def test_embedding_dupes_planes_sized_by_finite_rows(spark):
    """embedding_dupes sizes its planes from the rows it indexes: 1,000
    clean vectors (2 planes) plus 100 NULL/NaN rows (1,100 raw rows, which
    the size rule gives 3 planes) find exactly the clean corpus's pairs.
    All 16 tables miss a cosine-0.4 pair w.p. ~1% at 3 planes and ~0.03% at
    2, so over the corpus's 28,011 such pairs a count of the raw input
    shows."""
    from cog3pio_spark.operators import ann

    assert ann.dupes_plane_count(1000, 0.4, ann.PAIR_TABLES, 0.95) == 2
    assert ann.dupes_plane_count(1100, 0.4, ann.PAIR_TABLES, 0.95) == 3
    rng = np.random.RandomState(37)
    schema = "vec_id long, embedding array<double>"
    clean = [(i, [float(x) for x in v]) for i, v in enumerate(rng.randn(1000, 16))]
    bad = [(2000 + i, None if i % 2 else [float("nan")] * 16) for i in range(100)]
    want = sorted(ann.embedding_dupes(spark.createDataFrame(clean, schema), 16, 0.4).collect())
    got = sorted(ann.embedding_dupes(spark.createDataFrame(clean + bad, schema), 16, 0.4).collect())
    assert got == want and len(want) > 1000


# the registry's provably lossless configurations (q32, q36, q48, q50, q52)
_LOSSLESS_CONFIGS = {
    "lsh": (500, {"n_planes": 2, "n_probes": 4}),
    "ivf": (500, {"n_centroids": 16, "nprobe": 16}),
    "ivf2": (500, {"n_coarse": 8, "n_fine": 4, "nprobe_coarse": 8, "nprobe_fine": 4}),
    "pq": (200, {"m": 8}),
    "ivfpq": (200, {"m": 8, "n_centroids": 16, "nprobe": 16}),
}


@pytest.mark.parametrize("api", list(_LOSSLESS_CONFIGS))
def test_lossless_ann_equals_brute_force(spark, monkeypatch, api):
    """At the registry's lossless configurations every indexed top-k scores
    the whole corpus exactly (all lists probed; ≤ 256 vectors per PQ
    codebook, so every subvector is its own codeword): query, rank and id
    must equal brute force, and scores agree within 1e-6. A small
    PAIR_CHUNK makes the kernel cut every batch into many slices."""
    from cog3pio_spark.operators import probe

    monkeypatch.setattr(probe, "PAIR_CHUNK", 64)
    n, kw = _LOSSLESS_CONFIGS[api]
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    corpus = emb.filter(F.col("vec_id") < n)
    q = emb.filter(F.col("vec_id").isin(5, 6, 10, 11, 150)).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    got = sorted(tuple(r) for r in _ann_topk(api, corpus, q, dim=64, **kw).collect())
    want = sorted(tuple(r) for r in _ann_topk("brute", corpus, q).collect())
    assert [r[:3] for r in got] == [r[:3] for r in want] and len(want) == 25
    assert max(abs(a[3] - b[3]) for a, b in zip(got, want)) <= 1e-6


def test_search_scores_only_probed_lists(spark):
    """The list-probe core scores a row only against the queries probing
    its list: a row of a list no query probes scores nothing, even when
    ``encoded`` still holds it. Probes are ragged: queries of different
    widths share one call."""
    from pyspark.sql import types as T

    from cog3pio_spark.operators import probe

    encoded = spark.createDataFrame(
        [(i, i % 4, float(i)) for i in range(40)], "id long, ivf_list int, v double"
    )
    sign = np.array([1.0, -1.0])  # query 7 wants large v, query 8 small v
    scorer = probe.Scorer(
        lambda pdf, row, qi: pdf["v"].to_numpy()[row] * sign[qi], ("v",), "s", F.col("s")
    )
    out = probe._search(
        encoded, np.array([7, 8]), T.LongType(), [np.array([1, 3]), np.array([2])], scorer, 3,
        id_col="id", query_id_col="query_id",
    )
    got = sorted(tuple(r) for r in out.collect())
    # list 0 (v = 0, 4, …, 36) is probed by no query: its 36 must not
    # displace query 7's third hit, 35
    assert got == [
        (7, 1, 39, 39.0), (7, 2, 37, 37.0), (7, 3, 35, 35.0),
        (8, 1, 2, -2.0), (8, 2, 6, -6.0), (8, 3, 10, -10.0),
    ]


def test_simhash_blocked_equals_exact_scan(spark):
    """VERDICT r3 #5 (the q43 conversion pattern): the blocked pigeonhole
    path must equal the exact O(n^2) Hamming scan — same simhash UDF, so
    blocking completeness (combo <= segments - max_hamming) is the only
    thing under test. Runs at the default auto plan AND a forced multi-index
    plan, on a corpus with planted near-dup clusters; also over the sf0.01
    documents table when present (the driver-gate corpus)."""
    import os

    from cog3pio_spark.operators.dedupe import (
        simhash_dupes,
        simhash_hamming_pairs_exact,
    )

    rng = np.random.RandomState(17)
    words = [f"w{i}" for i in range(300)]
    rows = []
    for i in range(250):
        toks = [words[j] for j in rng.randint(0, 300, size=40)]
        rows.append((f"s{i:03d}", " ".join(toks)))
        if i % 7 == 0:  # planted near-dup: one token swapped
            toks2 = list(toks)
            toks2[5] = words[int(rng.randint(0, 300))]
            rows.append((f"s{i:03d}x", " ".join(toks2)))
    docs = spark.createDataFrame(rows, ["doc_id", "text"])

    for d, seg in ((6, None), (6, 8), (3, None)):
        exact = {
            (r["id_a"], r["id_b"], r["hamming"])
            for r in simhash_hamming_pairs_exact(docs, max_hamming=d).collect()
        }
        blocked = {
            (r["id_a"], r["id_b"], r["hamming"])
            for r in simhash_dupes(docs, max_hamming=d, segments=seg).collect()
        }
        assert blocked == exact, f"d={d} segments={seg}"
        assert exact, "corpus must produce at least one near-dup pair"

    sf_docs_path = "/root/testdata/sf0.01/documents.parquet"
    if os.path.exists(sf_docs_path):
        sf_docs = spark.read.parquet(sf_docs_path)
        exact = {
            (r["id_a"], r["id_b"], r["hamming"])
            for r in simhash_hamming_pairs_exact(sf_docs, max_hamming=6).collect()
        }
        blocked = {
            (r["id_a"], r["id_b"], r["hamming"])
            for r in simhash_dupes(sf_docs, max_hamming=6).collect()
        }
        assert blocked == exact


def test_text_regexp_hits_equal_hof_filter(spark):
    """r6 optimization pin: the regexp-based marker counting + evaluate-once
    struct staging in lang_id/quality_score/stopword_ratio/punct_ratio must
    be row-identical to the original HOF-filter formulation (token equality
    under split-on-\\s+), in BOTH ANSI modes."""
    from cog3pio_spark.operators.text import (
        LANG_MARKERS,
        STOPWORDS,
        lang_id,
        punct_ratio,
        quality_score,
        stopword_ratio,
    )

    def old_hits(words, mk):
        mk = list(mk)
        return F.size(F.filter(words, lambda w: w.isin(*mk)))

    def old_stopword_ratio(text):
        words = F.split(F.lower(F.trim(text)), r"\s+")
        return F.when(text.isNull(), F.lit(None).cast("double")).otherwise(
            old_hits(words, STOPWORDS) / F.greatest(F.size(words), F.lit(1))
        )

    def old_punct_ratio(text):
        stripped = F.regexp_replace(text, r"[^\p{Punct}]", "")
        return F.length(stripped) / F.greatest(F.length(text), F.lit(1))

    def old_lang_id(text):
        words = F.split(F.lower(F.trim(text)), r"\s+")
        scores = [
            (lang, old_hits(words, marks))
            for lang, marks in sorted(LANG_MARKERS.items())
        ]
        best = scores[0][1]
        for _, sc in scores[1:]:
            best = F.greatest(best, sc)
        out = F.lit("und")
        for lang, sc in reversed(scores):
            out = F.when(sc == best, F.lit(lang)).otherwise(out)
        return F.when(text.isNull() | (best <= 0), F.lit("und")).otherwise(out)

    def old_quality(text):
        n = F.length(text)
        len_score = F.when(n < 10, 0.0).when(n > 20000, 0.3).otherwise(1.0)
        p = old_punct_ratio(text)
        punct_score = F.when(p > 0.3, 0.2).otherwise(1.0 - p)
        s = old_stopword_ratio(text)
        stop_score = F.when(s > 0.0, 1.0).otherwise(0.5)
        return F.round((len_score * 0.4 + punct_score * 0.3 + stop_score * 0.3), 6)

    edge = [
        (0, None), (1, ""), (2, "   "), (3, "the"), (4, "the the the"),
        (5, "to to"), (6, " the and of to in "), (7, "the\nand\tof"),
        (8, "der die und das nicht"), (9, "le la et les des"),
        (10, "el la que los de"), (11, "xthe they other bother"),
        (12, "the, and. of! to? in;"), (13, "a b the"), (14, "in"),
        (15, "the  and   of"), (16, "THE AND OF TO IN"),
        (17, "...!!!???"), (18, "mixed der the le el text und and et que"),
        (19, "word " * 50 + "the"), (20, "über der bär"),
        (21, "the and"),  # NBSP is not \s: one token, zero hits
        (22, "end the"), (23, "the end"), (24, "x" * 25000 + " the"),
        (25, "in in in in"), (26, "de la"), (27, "la la la"),
    ]
    df = spark.createDataFrame(edge, ["i", "text"])
    t = F.col("text")
    for ansi in ("true", "false"):
        spark.conf.set("spark.sql.ansi.enabled", ansi)
        try:
            rows = df.select(
                "i",
                old_lang_id(t).alias("ol"), lang_id(t).alias("nl"),
                old_quality(t).alias("oq"), quality_score(t).alias("nq"),
                F.round(old_stopword_ratio(t), 6).alias("os"),
                F.round(stopword_ratio(t), 6).alias("ns"),
                F.round(old_punct_ratio(t), 6).alias("op"),
                F.round(punct_ratio(t), 6).alias("np"),
            ).collect()
        finally:
            spark.conf.unset("spark.sql.ansi.enabled")
        for r in rows:
            assert r.ol == r.nl, f"ansi={ansi} row {r.i}: lang {r.ol} != {r.nl}"
            assert r.oq == r.nq, f"ansi={ansi} row {r.i}: quality {r.oq} != {r.nq}"
            assert r.os == r.ns, f"ansi={ansi} row {r.i}: stopword {r.os} != {r.ns}"
            assert r.op == r.np, f"ansi={ansi} row {r.i}: punct {r.op} != {r.np}"


def test_multiset_diff_formula_matches_exceptall(spark):
    """q24's diff invariant (r6): the tagged-union aggregate
    Σ_key |n_A − n_B| must equal count(A.exceptAll(B) ∪ B.exceptAll(A))
    on every multiset relation — identical sides, rows missing from either
    side, AND duplicated rows (the multiset case where a set-based diff
    would undercount)."""
    cols = ["id_a", "id_b", "hamming"]

    def both_formulas(a_rows, b_rows):
        a = spark.createDataFrame(a_rows, cols) if a_rows else spark.createDataFrame(
            [], "id_a long, id_b long, hamming int"
        )
        b = spark.createDataFrame(b_rows, cols) if b_rows else spark.createDataFrame(
            [], "id_a long, id_b long, hamming int"
        )
        old = a.exceptAll(b).unionByName(b.exceptAll(a)).count()
        tagged = a.select(
            *cols, F.lit(1).alias("_nb"), F.lit(0).alias("_ne")
        ).unionByName(b.select(*cols, F.lit(0).alias("_nb"), F.lit(1).alias("_ne")))
        new = (
            tagged.groupBy(*cols)
            .agg(F.sum("_nb").alias("nb"), F.sum("_ne").alias("ne"))
            .agg(
                F.coalesce(F.sum(F.abs(F.col("nb") - F.col("ne"))), F.lit(0))
                .cast("long")
                .alias("val")
            )
            .collect()[0]["val"]
        )
        return old, new

    r1, r2, r3 = (1, 2, 0), (3, 4, 2), (5, 6, 1)
    cases = [
        ([r1, r2], [r1, r2]),          # identical → 0
        ([r1, r2, r3], [r1]),          # rows only in A → 2
        ([r1], [r1, r2, r3]),          # rows only in B → 2
        ([r1, r1, r2], [r1, r2, r2]),  # multiset imbalance → 2
        ([], [r1]),                    # empty side
        ([], []),                      # both empty → 0
    ]
    for a_rows, b_rows in cases:
        old, new = both_formulas(a_rows, b_rows)
        assert old == new, f"{a_rows} vs {b_rows}: exceptAll={old} formula={new}"


def test_simhash_exact_anchor_guard(spark):
    from cog3pio_spark.operators.dedupe import simhash_hamming_pairs_exact

    docs = spark.createDataFrame(
        [(f"d{i}", f"text {i}") for i in range(30)], ["doc_id", "text"]
    )
    with pytest.raises(ValueError, match="max_rows"):
        simhash_hamming_pairs_exact(docs, max_rows=10)


def _mini_mp4_with_codecs():
    """ISO-BMFF with full track trees (r4): a 'vide'/avc1 track with a
    visual sample entry carrying its own dimensions, and a 'soun'/mp4a
    track — exercises mdia/hdlr + minf/stbl/stsd codec extraction."""
    import struct

    def box(btype, payload):
        return struct.pack(">I4s", 8 + len(payload), btype) + payload

    def track(handler, codec, w=None, h=None):
        hdlr = bytes(4) + b"\x00" * 4 + handler + b"\x00" * 12
        if w is not None:
            # visual sample entry: fourcc header handled by box(); body =
            # resv(6)+dataref(2) + pre_defined/resv(16) + width/height + tail
            entry = (
                b"\x00" * 6 + struct.pack(">H", 1) + b"\x00" * 16
                + struct.pack(">HH", w, h) + b"\x00" * 50
            )
        else:
            entry = b"\x00" * 6 + struct.pack(">H", 1) + b"\x00" * 20
        stsd = bytes(4) + struct.pack(">I", 1) + box(codec, entry)
        stbl = box(b"stbl", box(b"stsd", stsd))
        minf = box(b"minf", stbl)
        mdia = box(b"mdia", box(b"hdlr", hdlr) + minf)
        tkhd = bytes(4) + b"\x00" * 72 + struct.pack(
            ">II", (w or 0) << 16, (h or 0) << 16
        )
        return box(b"trak", box(b"tkhd", tkhd) + mdia)

    mvhd = bytes(4) + b"\x00" * 8 + struct.pack(">II", 1000, 3000) + b"\x00" * 80
    moov = box(
        b"moov",
        box(b"mvhd", mvhd) + track(b"vide", b"avc1", 320, 180)
        + track(b"soun", b"mp4a"),
    )
    return box(b"ftyp", b"isom" + b"\x00" * 8) + moov


def test_video_mp4_per_track_codecs(spark):
    """r4 (round-3 candidate list): per-track metadata — handler fourcc
    from mdia/hdlr, codec fourcc from the stsd sample entry, visual-entry
    dimensions for video tracks; audio tracks carry codec but no dims.
    Older fixtures without mdia trees still parse (tracks of nulls)."""
    from cog3pio_spark.operators.multimodal import _parse_mp4, video_meta

    raw = _mini_mp4_with_codecs()
    meta = _parse_mp4(raw)
    assert meta["n_tracks"] == 2
    assert meta["tracks"][0] == {
        "handler": "vide", "codec": "avc1", "width": 320, "height": 180
    }
    assert meta["tracks"][1] == {
        "handler": "soun", "codec": "mp4a", "width": None, "height": None
    }
    # container-level fallback dims still come from tkhd
    assert (meta["width"], meta["height"]) == (320, 180)

    # bare-trak fixture (no mdia): per-track row exists, all-null detail
    bare = _parse_mp4(_mini_mp4())
    assert bare["tracks"] == [
        {"handler": None, "codec": None, "width": None, "height": None}
    ]

    df = spark.createDataFrame([("v", raw)], ["media_id", "blob"])
    row = video_meta(df).collect()[0]
    assert row["status"] == "ok"
    tracks = [(t["handler"], t["codec"], t["width"], t["height"])
              for t in row["tracks"]]
    assert tracks == [("vide", "avc1", 320, 180), ("soun", "mp4a", None, None)]


def test_image_meta_header_only(spark):
    """r4: header-only image metadata (the pre-decode curation filter) —
    dims/bands/format detail for JPEG (incl. SOF kind: baseline vs
    progressive), PNG, GIF, TIFF, and WebP (VP8/VP8L/VP8X chunk headers,
    parsed per the public container spec even though webp PIXELS stay
    honestly undecodable in-sandbox); error-channel rows for junk. The
    attach_media_meta sniffer also distinguishes RIFF/WEBP from RIFF/WAVE
    (r4 fix: webp used to mislabel audio/wav)."""
    import os
    import struct

    from cog3pio_spark.operators.multimodal import attach_media_meta, image_meta
    from cog3pio_spark.tiff.writer import write_tiff
    import io

    data = os.path.join(os.path.dirname(__file__), "data")
    buf = io.BytesIO()
    write_tiff(buf, np.arange(3 * 10 * 12, dtype=np.uint16).reshape(3, 10, 12))
    webp_lossy = (
        b"RIFF" + struct.pack("<I", 30) + b"WEBP" + b"VP8 "
        + struct.pack("<I", 12) + b"\x00" * 3 + b"\x9d\x01\x2a"
        + struct.pack("<HH", 320, 180) + b"\x00" * 2
    )
    bits = 99 | (49 << 14) | (1 << 28)  # 100x50, alpha
    webp_lossless = (
        b"RIFF" + struct.pack("<I", 20) + b"WEBP" + b"VP8L"
        + struct.pack("<I", 8) + bytes([0x2F]) + struct.pack("<I", bits)
        + b"\x00" * 3
    )
    rows = [
        ("jb", open(os.path.join(data, "java_gray.jpg"), "rb").read()),
        ("jp", open(os.path.join(data, "java_gray_prog.jpg"), "rb").read()),
        ("pn", open(os.path.join(data, "java_rgba.png"), "rb").read()),
        ("gf", open(os.path.join(data, "java_indexed.gif"), "rb").read()),
        ("tf", buf.getvalue()),
        ("wl", webp_lossy),
        ("wz", webp_lossless),
        ("junk", b"not an image at all....."),
    ]
    df = spark.createDataFrame(rows, ["media_id", "blob"])
    got = {r["media_id"]: r for r in image_meta(df).collect()}

    assert (got["jb"]["width"], got["jb"]["height"], got["jb"]["detail"]) == (
        70, 40, "baseline")
    assert (got["jp"]["width"], got["jp"]["detail"]) == (70, "progressive")
    assert (got["pn"]["width"], got["pn"]["height"], got["pn"]["bands"]) == (29, 21, 4)
    assert (got["gf"]["width"], got["gf"]["height"]) == (31, 17)
    assert (got["tf"]["width"], got["tf"]["height"], got["tf"]["bands"]) == (12, 10, 3)
    assert (got["wl"]["width"], got["wl"]["height"], got["wl"]["detail"]) == (
        320, 180, "vp8-lossy")
    assert (got["wz"]["width"], got["wz"]["height"], got["wz"]["bands"],
            got["wz"]["detail"]) == (100, 50, 4, "vp8l-lossless")
    assert got["junk"]["status"] == "error"
    assert "Cannot parse image" in got["junk"]["error_msg"]

    sniff = {r["media_id"]: r["media_type"] for r in attach_media_meta(df).collect()}
    assert sniff["wl"] == "image/webp" and sniff["wz"] == "image/webp"


_DATA = os.path.join(os.path.dirname(__file__), "data")
_COMMITTED_IMAGES = sorted(n for n in os.listdir(_DATA) if not n.endswith(".npy"))
_BUILT_IMAGES = ("built_palette.png", "built_palette_trns.png", "built_gray_trns.png",
                 "built.tif")


@functools.lru_cache(maxsize=None)
def _agreement_blobs() -> dict:
    """Every committed test image plus built palette, palette+tRNS and
    gray+tRNS PNGs (the drift cases: their tRNS/PLTE change the decoded
    band count) and a built TIFF."""
    import io
    import struct
    import zlib

    from cog3pio_spark.tiff.writer import write_tiff

    def chunk(ctype, body):
        return struct.pack(">I", len(body)) + ctype + body + struct.pack(">I", zlib.crc32(ctype + body))

    def build_png(w, h, color, rows, *chunks):
        ihdr = struct.pack(">IIBBBBB", w, h, 8, color, 0, 0, 0)
        return (b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr) + b"".join(chunks)
                + chunk(b"IDAT", zlib.compress(rows)) + chunk(b"IEND", b""))

    plte = chunk(b"PLTE", bytes(range(9)))
    pal_rows = b"\x00\x00\x01\x00\x02\x01"  # 2x2 indices, filter 0
    buf = io.BytesIO()
    write_tiff(buf, np.arange(3 * 10 * 12, dtype=np.uint16).reshape(3, 10, 12))
    built = [
        build_png(2, 2, 3, pal_rows, plte),
        build_png(2, 2, 3, pal_rows, plte, chunk(b"tRNS", b"\x00\x80")),
        build_png(3, 1, 0, b"\x00\x07\x09\x07", chunk(b"tRNS", b"\x00\x07")),
        buf.getvalue(),
    ]
    blobs = {n: open(os.path.join(_DATA, n), "rb").read() for n in _COMMITTED_IMAGES}
    return {**blobs, **dict(zip(_BUILT_IMAGES, built))}


def _header_end(raw: bytes) -> int | None:
    """Offset right after the header bytes: the JPEG SOF segment, the PNG
    chunks before the first IDAT (IHDR, PLTE, tRNS), the GIF logical
    screen; None for TIFF, whose IFD may sit anywhere in the file."""
    seg_len = lambda pos: int.from_bytes(raw[pos + 2 : pos + 4], "big")  # noqa: E731
    if raw[:2] == b"\xff\xd8":  # the fixtures carry no fill bytes
        pos = 2
        while raw[pos + 1] not in (0xC0, 0xC2):
            pos += 2 + seg_len(pos)
        return pos + 2 + seg_len(pos)
    if raw[:4] == b"\x89PNG":
        pos = 8
        while raw[pos + 4 : pos + 8] != b"IDAT":
            pos += 12 + int.from_bytes(raw[pos : pos + 4], "big")
        return pos
    return 13 if raw[:4] == b"GIF8" else None


@pytest.fixture(scope="module")
def header_rows(spark):
    """image_meta rows of every agreement input, whole and cut right after
    its header (``<name>:cut``), in one job."""
    from cog3pio_spark.operators.multimodal import image_meta

    rows = []
    for name, raw in _agreement_blobs().items():
        rows.append((name, raw))
        if _header_end(raw) is not None:
            rows.append((name + ":cut", raw[: _header_end(raw)]))
    df = spark.createDataFrame(rows, ["media_id", "blob"])
    return {r["media_id"]: r.asDict() for r in image_meta(df).collect()}


@pytest.mark.parametrize("name", _COMMITTED_IMAGES + list(_BUILT_IMAGES))
def test_image_meta_agrees_with_decode(header_rows, name):
    """The header and the decoder read one parse: image_meta's (bands,
    height, width) is the shape the pixel dispatch decodes — palette and
    tRNS PNGs included — and the blob cut right after its header gives the
    same header row, so image_meta reads no image data."""
    from cog3pio_spark.operators.multimodal import _decode_pixels

    raw = _agreement_blobs()[name]
    px, _ = _decode_pixels(raw)
    row = header_rows[name]
    assert row["status"] == "ok", row["error_msg"]
    assert (row["bands"], row["height"], row["width"]) == px.shape
    if _header_end(raw) is not None:
        assert header_rows[name + ":cut"] == {**row, "media_id": name + ":cut"}


def _union_find_components(edges, nodes):
    """Pure-python union-find — the independent oracle for the distributed
    large-star/small-star implementation."""
    parent = {n: n for n in nodes}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    # canonical min-id labels
    return {n: min(m for m in nodes if find(m) == find(n)) for n in nodes}


def test_connected_components_matches_union_find(spark):
    """r4: dedup cluster closure — the alternating large-star/small-star
    rounds (joins + min aggregates, no per-node arrays) must label every
    node with its component's min id. Oracles: pure-python union-find on a
    seeded random graph (chains + stars + cliques + isolated pairs) AND a
    DuckDB recursive-CTE transitive closure on a small graph."""
    import duckdb

    from cog3pio_spark.operators.dedupe import connected_components

    rng = np.random.RandomState(23)
    edges = set()
    # chains (worst case for naive label propagation)
    for c in range(3):
        base = 1000 * c
        for i in range(30):
            edges.add((base + i, base + i + 1))
    # star hubs (the boilerplate-cluster shape)
    for h in (5000, 6000):
        for i in range(1, 40):
            edges.add((h, h + i))
    # random clutter
    for _ in range(120):
        a, b = rng.randint(9000, 9200, size=2)
        if a != b:
            edges.add((int(min(a, b)), int(max(a, b))))
    nodes = sorted({n for e in edges for n in e})
    expected = _union_find_components(edges, nodes)

    df = spark.createDataFrame(sorted(edges), ["id_a", "id_b"])
    got = {r["id"]: r["component"] for r in connected_components(df).collect()}
    assert got == expected

    # DuckDB recursive-CTE closure as a second, SQL-engine oracle
    small = sorted(edges)[:80]
    con = duckdb.connect()
    con.execute("CREATE TABLE e(u BIGINT, v BIGINT)")
    con.executemany("INSERT INTO e VALUES (?, ?)", [list(x) for x in small])
    sql = """
        WITH RECURSIVE sym AS (
            SELECT u, v FROM e UNION SELECT v, u FROM e
        ), reach(a, b) AS (
            SELECT u, v FROM sym
            UNION
            SELECT r.a, s.v FROM reach r JOIN sym s ON r.b = s.u
        )
        SELECT a AS id, LEAST(a, MIN(b)) AS component FROM reach GROUP BY a
    """
    duck = {r[0]: r[1] for r in con.execute(sql).fetchall()}
    sdf = spark.createDataFrame(small, ["id_a", "id_b"])
    got_small = {
        r["id"]: r["component"] for r in connected_components(sdf).collect()
    }
    assert got_small == duck


def test_dedupe_keep_list_end_to_end(dup_docs):
    """keep-list closure over minhash pairs: every exact-dup cluster keeps
    exactly its min id; docs in no pair keep themselves; near-dup 'c'
    variants fold into their cluster when minhash pairs them."""
    from cog3pio_spark.operators.dedupe import dedupe_keep_list, minhash_lsh_dupes

    pairs = minhash_lsh_dupes(dup_docs, jaccard_threshold=0.7)
    out = {r["id"]: r for r in dedupe_keep_list(dup_docs, pairs).collect()}
    assert len(out) == dup_docs.count()
    assert out["solo"]["keep"] and out["solo"]["component"] == "solo"
    for c in range(3):
        rep = f"d{c:03d}a"
        assert out[rep]["keep"]
        assert not out[f"d{c:03d}b"]["keep"]
        assert out[f"d{c:03d}b"]["component"] == rep
    kept = {k for k, r in out.items() if r["keep"]}
    comps = {r["component"] for r in out.values()}
    assert kept == comps  # exactly one keeper per component


def test_corrupt_blobs_surface_as_error_rows_not_crashes(spark):
    """r4 review: corrupt blobs that crash codec internals with
    IndexError/ZeroDivisionError (a short SOF segment, a WAV fmt chunk
    declaring channels=0, marker fill-bytes running to EOF) must come out
    as error/byte-path rows through every operator surface — the decoders
    wrap their own crash classes into the documented taxonomy, so the
    operators' ValueError catch holds. Two header bombs ride along: a TIFF
    tag whose count claims 2^28 values and a GIF whose logical screen
    claims 65535x65535 — both must be refused from the bytes present, not
    allocated. A JPEG whose SOF declares height 0 (DNL, which the decoder
    does not read) is refused by the header parse and the decoder alike."""
    import io
    import os
    import struct

    from cog3pio_spark import jpeg
    from cog3pio_spark.gif import GifDecodeError, decode_gif  # noqa: F401
    from cog3pio_spark.jpeg import JpegDecodeError, decode_jpeg
    from cog3pio_spark.operators.multimodal import (
        _parse_wav,
        audio_features,
        audio_meta,
        extract_features,
        image_meta,
        resize_media,
        video_meta,
    )
    from cog3pio_spark.png import PngDecodeError, decode_png
    from cog3pio_spark.tiff.writer import write_tiff

    short_sof = b"\xff\xd8\xff\xc0\x00\x02"  # SOF segment too short
    with pytest.raises(JpegDecodeError, match="truncated or corrupt"):
        decode_jpeg(short_sof)
    with pytest.raises(PngDecodeError):
        decode_png(b"\x89PNG\r\n\x1a\n" + b"\x00" * 4 + b"IHDR\x00")
    bad_wav = (
        b"RIFF" + b"\x24\x00\x00\x00" + b"WAVE"
        + b"fmt " + b"\x10\x00\x00\x00"
        + b"\x01\x00\x00\x00" + b"\x00" * 12  # channels = 0
        + b"data" + b"\x04\x00\x00\x00" + b"\x00" * 4
    )
    with pytest.raises(ValueError, match="invalid fmt"):
        _parse_wav(bad_wav)
    with pytest.raises(JpegDecodeError, match="Cannot parse JPEG: truncated in marker"):
        jpeg.header(b"\xff\xd8" + b"\xff" * 10)  # fill bytes to EOF

    buf = io.BytesIO()
    write_tiff(buf, np.arange(64, dtype=np.uint8).reshape(1, 8, 8))
    tiff_bomb = bytearray(buf.getvalue())
    (ifd,) = struct.unpack_from("<I", tiff_bomb, 4)
    assert struct.unpack_from("<H", tiff_bomb, ifd + 2)[0] == 256  # ImageWidth
    struct.pack_into("<I", tiff_bomb, ifd + 2 + 4, 1 << 28)  # its count
    data = os.path.join(os.path.dirname(__file__), "data")
    gif_bomb = bytearray(open(os.path.join(data, "java_indexed.gif"), "rb").read())
    struct.pack_into("<HH", gif_bomb, 6, 0xFFFF, 0xFFFF)  # logical screen
    jpeg0h = bytearray(open(os.path.join(data, "java_gray.jpg"), "rb").read())
    sof = jpeg0h.index(b"\xff\xc0")
    struct.pack_into(">H", jpeg0h, sof + 5, 0)  # SOF height
    with pytest.raises(JpegDecodeError, match="zero frame dimension"):
        decode_jpeg(bytes(jpeg0h))

    rows = [
        ("sof", short_sof),
        ("fill", b"\xff\xd8" + b"\xff" * 10),
        ("wav0", bad_wav),
        ("tiffjunk", b"II*\x00" + b"\x01" * 6),
        ("tiffbomb", bytes(tiff_bomb)),
        ("gifbomb", bytes(gif_bomb)),
        ("jpeg0h", bytes(jpeg0h)),
    ]
    df = spark.createDataFrame(rows, ["media_id", "blob"])
    feats = {r["media_id"]: r["media_type"] for r in extract_features(df).collect()}
    assert len(feats) == len(rows)
    assert all(t == "raw-bytes" for t in feats.values()), feats
    hdr = {r["media_id"]: r["status"] for r in image_meta(df).collect()}
    assert hdr["sof"] == "error" and hdr["fill"] == "error"
    assert hdr["tiffbomb"] == "error" and hdr["jpeg0h"] == "error"
    ameta = {r["media_id"]: r["status"] for r in audio_meta(df).collect()}
    assert ameta["wav0"] == "error"
    assert audio_features(df).filter(F.col("media_id") == "wav0").count() == 0
    resized = {r["media_id"]: r for r in resize_media(df, 4, 4).collect()}
    assert resized["wav0"]["status"] == "unsupported"
    for mid in ("sof", "fill", "tiffjunk", "tiffbomb", "gifbomb", "jpeg0h"):
        r = resized[mid]
        assert r["status"] == "error" and r["error_msg"], r
        assert (r["width"], r["height"], r["resized"]) == (None, None, None)
    vmeta = video_meta(df).collect()
    assert len(vmeta) == len(rows)
    for r in vmeta:
        assert r["status"] == "error" and r["error_msg"], r
        assert all(r[k] is None for k in ("brand", "duration_s", "n_tracks", "tracks"))


def test_dedupe_corpus_one_call(dup_docs):
    """r4: the one-call pairs->components->filter composition keeps exactly
    one representative (min id) per near-dup component plus all singletons,
    preserving the input schema."""
    from cog3pio_spark.operators.dedupe import dedupe_corpus

    out = dedupe_corpus(dup_docs, jaccard_threshold=0.7)
    assert out.columns == dup_docs.columns
    kept = {r["doc_id"] for r in out.collect()}
    assert "solo" in kept
    for c in range(3):
        assert f"d{c:03d}a" in kept           # representative
        assert f"d{c:03d}b" not in kept       # exact dup folded
    assert len(kept) < dup_docs.count()


def test_leakage_safe_split_components_never_straddle(spark, dup_docs):
    """r4: the train/eval split keys on the dedup COMPONENT, so near-dup
    clusters land whole on one side (no eval contamination), assignment is
    deterministic across repartitioning, and the eval fraction tracks the
    requested rate on a many-component corpus."""
    from cog3pio_spark.operators.dedupe import (
        leakage_safe_split,
        minhash_lsh_dupes,
    )

    pairs = minhash_lsh_dupes(dup_docs, jaccard_threshold=0.7)
    out = leakage_safe_split(dup_docs, pairs, eval_fraction=0.5).collect()
    by_comp = {}
    for r in out:
        by_comp.setdefault(r["component"], set()).add(r["split"])
    assert all(len(s) == 1 for s in by_comp.values()), by_comp  # never straddle
    # deterministic under physical layout changes
    out2 = leakage_safe_split(
        dup_docs.repartition(7), pairs, eval_fraction=0.5
    ).collect()
    assert {(r["id"], r["split"]) for r in out} == {
        (r["id"], r["split"]) for r in out2
    }
    # fraction sanity on many singleton components
    big = spark.createDataFrame(
        [(f"x{i:04d}", f"unique text number {i}") for i in range(400)],
        ["doc_id", "text"],
    )
    empty_pairs = spark.createDataFrame([], "id_a string, id_b string")
    sp = leakage_safe_split(big, empty_pairs, eval_fraction=0.2).collect()
    frac = sum(1 for r in sp if r["split"] == "eval") / len(sp)
    assert 0.1 < frac < 0.3, frac
    with pytest.raises(ValueError, match="eval_fraction"):
        leakage_safe_split(big, empty_pairs, eval_fraction=1.5)


def test_pack_sequences_budget_and_coverage(spark):
    """r4: sequence packing — every doc lands in exactly one pack, no pack
    exceeds the token budget (oversize docs isolate into flagged
    single-doc packs), FFD efficiency beats the 2x-waste bound, and
    assignment is deterministic under repartitioning."""
    from cog3pio_spark.operators.text import pack_sequences

    rng = np.random.RandomState(31)
    rows = [(f"d{i:04d}", int(t)) for i, t in
            enumerate(rng.randint(50, 900, size=500))]
    rows += [("huge0", 5000), ("huge1", 2049)]
    docs = spark.createDataFrame(rows, ["doc_id", "n_tokens"])
    out = pack_sequences(docs, max_tokens=2048, n_buckets=8).collect()

    assert len(out) == len(rows)  # exactly-once coverage
    assert {r["doc_id"] for r in out} == {r[0] for r in rows}
    by_pack = {}
    for r in out:
        by_pack.setdefault(r["pack_id"], []).append(r)
    for pid, members in by_pack.items():
        total = sum(r["n_tokens"] for r in members)
        assert all(r["pack_tokens"] == total for r in members)
        if pid.endswith("-oversize"):
            assert len(members) == 1 and total > 2048
        else:
            assert total <= 2048, (pid, total)
    # FFD efficiency: pack count within 1.6x of the ideal lower bound
    # (+ one slack pack per bucket)
    normal_tokens = sum(t for _, t in rows if t <= 2048)
    ideal = -(-normal_tokens // 2048)
    n_packs = len([p for p in by_pack if not p.endswith("-oversize")])
    assert n_packs <= ideal * 1.6 + 8, (n_packs, ideal)
    # deterministic under layout changes
    out2 = pack_sequences(
        docs.repartition(13), max_tokens=2048, n_buckets=8
    ).collect()
    assert {(r["doc_id"], r["pack_id"]) for r in out} == {
        (r["doc_id"], r["pack_id"]) for r in out2
    }
    with pytest.raises(ValueError, match="max_tokens"):
        pack_sequences(docs, max_tokens=0)


def test_pack_sequences_null_tokens_stay_null(spark):
    """ADVICE r4: a null-token doc's '-nulltokens' pack must carry NULL
    pack_tokens (unknown), not 0 (empty) — pandas' skipna sum over a
    single NaN silently produced 0 before the fix."""
    from cog3pio_spark.operators.text import pack_sequences

    docs = spark.createDataFrame(
        [("a", 100), ("b", None), ("c", 50)],
        "doc_id string, n_tokens int",
    )
    out = {
        r["doc_id"]: r
        for r in pack_sequences(docs, max_tokens=256, n_buckets=1).collect()
    }
    assert out["b"]["pack_id"].endswith("-nulltokens")
    assert out["b"]["pack_tokens"] is None
    assert out["b"]["n_tokens"] is None
    assert out["a"]["pack_tokens"] == 150 and out["c"]["pack_tokens"] == 150


def test_signed_int_tiff_histogram_not_empty(spark):
    """r4 review: a (0, iinfo.max) histogram range dropped every NEGATIVE
    sample of signed dtypes — an all-negative int16 tile (below-sea-level
    DEM shape) binned to an all-zero histogram confidently tagged
    ';decoded'. The range now spans (iinfo.min, iinfo.max)."""
    import io

    from cog3pio_spark.operators.multimodal import extract_features
    from cog3pio_spark.tiff.writer import write_tiff

    arr = (-np.arange(1, 401, dtype=np.int16) * 10).reshape(1, 20, 20)
    buf = io.BytesIO()
    write_tiff(buf, arr)
    df = spark.createDataFrame([("dem", buf.getvalue())], ["media_id", "blob"])
    row = extract_features(df).collect()[0]
    assert row["media_type"] == "image/tiff;decoded"
    hist = row["features"][:14]
    assert sum(hist) > 0.99  # every sample binned (was exactly 0.0)
    assert abs(row["features"][14] - float(arr.mean())) < 1e-9


@pytest.mark.parametrize("api", ["pq", "ivfpq", "lsh", "ivf", "ivf2"])
def test_ann_empty_query_set_refused_clearly(spark, api):
    """r5 review: an empty query set crashed pq/ivfpq/brute in _normalize
    with an obscure numpy AxisError; a non-divisible dim/m pair was only an
    assert (stripped under python -O, silently dropping tail dims)."""
    from cog3pio_spark.operators.ann import brute_force_topk, train_pq_codebooks

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    none = emb.filter(F.col("vec_id") < 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    with pytest.raises(ValueError, match="query set is empty"):
        _ann_topk(api, emb, none, k=3, dim=64)
    with pytest.raises(ValueError, match="queries list is empty"):
        brute_force_topk(emb, [], k=3)
    with pytest.raises(ValueError, match="divisible"):
        train_pq_codebooks(emb, dim=64, m=7)


def test_text_features_null_text_ansi_independent(spark):
    """r5 review (verified live before the fix): under ANSI-off — the
    bench/scaling session config — legacy sizeOfNull made lang_id(NULL)
    return the valid-looking label 'de' and stopword_ratio(NULL) return
    -1.0; bpe_token_count coalesced NULL to 0, conflating unknown with
    empty. All must be config-independent now."""
    df = spark.createDataFrame([("n1", None), ("n2", "the cat and dog")],
                               "doc_id string, text string")
    ansi_was = spark.conf.get("spark.sql.ansi.enabled")
    for ansi in ("false", "true"):
        spark.conf.set("spark.sql.ansi.enabled", ansi)
        try:
            out = {r["doc_id"]: r for r in text_features(df).collect()}
        finally:
            spark.conf.set("spark.sql.ansi.enabled", ansi_was)
        r = out["n1"]
        assert r["lang_pred"] == "und", (ansi, r["lang_pred"])
        assert r["stopword_ratio"] is None, (ansi, r["stopword_ratio"])
        assert r["n_bpe_tokens"] is None, (ansi, r["n_bpe_tokens"])
        assert r["n_tokens"] is None
        assert out["n2"]["lang_pred"] == "en"


def test_ngram_jaccard_shapes_agree(spark):
    """r6 plan restructure (window-cap + in-array pair expansion + broadcast
    sizes) is row-identical to the original inverted-index self-join."""
    import random

    from pyspark.sql import functions as F

    rng = random.Random(7)
    vocab = [f"w{i}" for i in range(40)]
    rows = []
    for i in range(120):
        nw = rng.randint(1, 12)
        rows.append((i, " ".join(rng.choice(vocab) for _ in range(nw))))
    # planted near-dup pairs so the comparison is non-vacuous
    for i in range(10):
        base = " ".join(rng.choice(vocab) for _ in range(8))
        rows.append((200 + 2 * i, base + " alpha"))
        rows.append((201 + 2 * i, base + " beta"))
    rows.append((500, None))
    rows.append((501, "  "))
    docs = spark.createDataFrame(rows, ["doc_id", "text"])

    got = {
        (r["id_a"], r["id_b"], r["jaccard"])
        for r in ngram_jaccard_pairs(docs, n=3, threshold=0.2, df_cap=8).collect()
    }

    # reference: the r1–r5 self-join formulation, inlined verbatim
    n, df_cap, threshold = 3, 8, 0.2
    words = F.split(F.lower(F.trim(F.col("text"))), r"\s+")
    grams = docs.select(
        "doc_id",
        F.explode(
            F.array_distinct(
                F.transform(
                    F.sequence(F.lit(0), F.greatest(F.size(words) - n, F.lit(0))),
                    lambda i: F.xxhash64(F.concat_ws(" ", F.slice(words, i + 1, n))),
                )
            )
        ).alias("gram"),
    ).filter(F.size(words) >= n)
    sizes = grams.groupBy("doc_id").agg(F.count("*").alias("n_grams"))
    rare = grams.groupBy("gram").agg(F.count("*").alias("_df")).filter(
        F.col("_df") <= df_cap
    )
    gc = grams.join(rare.select("gram"), "gram")
    co = (
        gc.alias("l")
        .join(gc.alias("r"), "gram")
        .filter(F.col("l.doc_id") < F.col("r.doc_id"))
        .groupBy(F.col("l.doc_id").alias("id_a"), F.col("r.doc_id").alias("id_b"))
        .agg(F.count("*").alias("inter"))
    )
    ref = {
        (r["id_a"], r["id_b"], r["jaccard"])
        for r in co.join(
            sizes.withColumnRenamed("doc_id", "id_a").withColumnRenamed("n_grams", "na"),
            "id_a",
        )
        .join(
            sizes.withColumnRenamed("doc_id", "id_b").withColumnRenamed("n_grams", "nb"),
            "id_b",
        )
        .withColumn("jaccard", F.col("inter") / (F.col("na") + F.col("nb") - F.col("inter")))
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard"))
        .collect()
    }
    assert got == ref and got, f"shapes diverged: {got ^ ref}"
