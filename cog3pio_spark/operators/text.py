"""Text-analysis operators for training-data pipelines (task brief).

All built-in ``pyspark.sql.functions`` column math — JVM-side, codegen,
no Python boundary. Each has an ANSI-SQL oracle in __spark_entry__.py so the
driver's DuckDB gate checks values, not just shapes.

* token_count      — whitespace tokenization count
* quality_score    — length / punctuation-ratio / stopword-ratio features
* lang_id          — stopword-hit heuristic over a fixed marker table
* fingerprint      — rolling/content hash for exact-dup detection
* pack_sequences   — fixed token-budget pack assembly (hash buckets × FFD)
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# deterministic marker sets (tiny, language-characteristic function words)
LANG_MARKERS = {
    "en": ["the", "and", "of", "to", "in"],
    "de": ["der", "die", "und", "das", "nicht"],
    "fr": ["le", "la", "et", "les", "des"],
    "es": ["el", "la", "que", "los", "de"],
}

STOPWORDS = LANG_MARKERS["en"]


def token_count(text: Column) -> Column:
    """Whitespace tokens; empty/blank string → 0; NULL text → NULL.

    The explicit null branch makes the semantics ANSI-config-independent
    (r4 review, verified live: under spark.sql.ansi.enabled=false the old
    when() fell through to size(split(NULL)) = -1 via legacy sizeOfNull —
    a NEGATIVE count flowing into corpus token sums; ANSI-on gave NULL)."""
    t = F.trim(text)
    return (
        F.when(text.isNull(), F.lit(None).cast("int"))
        .when(F.length(t) == 0, F.lit(0))
        .otherwise(F.size(F.split(t, r"\s+")))
    )


# BPE-ish pre-tokenizer pattern (GPT-2 style, simplified to the subset both
# Java regex and DuckDB's RE2 support — no lookahead): common English
# contraction suffixes, space-prefixed letter runs, digit runs, and
# punctuation runs. Whitespace itself is not a token.
BPE_PATTERN = r"'(?:s|t|re|ve|m|ll|d)| ?\p{L}+| ?\p{N}+| ?[^\s\p{L}\p{N}]+"


def bpe_token_count(text: Column) -> Column:
    """Tokenizer-shaped count: matches of the BPE-ish pre-tokenizer regex
    (task brief: "token counting (whitespace + a BPE-ish regex)"). Pure
    JVM-side regexp_count — codegen, no UDF. NULL text → NULL (r5 review:
    the old coalesce('') returned 0, conflating unknown-length docs with
    empty ones — the exact distinction the pack_sequences nulltokens fix
    preserves for n_tokens)."""
    return F.when(text.isNull(), F.lit(None).cast("int")).otherwise(
        F.regexp_count(text, F.lit(BPE_PATTERN))
    )


def punct_ratio(text: Column) -> Column:
    # regexp_count of the char class == length of the regexp_replace-stripped
    # string (r6, guide §4.1: counting avoids building a new string per row;
    # \p{Punct} is ASCII-only so char-count semantics are identical)
    return F.regexp_count(text, F.lit(r"\p{Punct}")) / F.greatest(
        F.length(text), F.lit(1)
    )


def _token_hit_pattern(marks: list[str]) -> str:
    """Regex counting tokens exactly equal to one of ``marks`` under the
    split-on-\\s+ tokenization: a hit is a marker bounded by string edge or
    whitespace on both sides (tokens are maximal non-\\s runs, so token
    equality ⇔ whitespace/edge-delimited occurrence). Zero-width look-arounds
    keep adjacent hits countable ("to to" = 2)."""
    return r"(?:^|(?<=\s))(?:" + "|".join(marks) + r")(?=\s|$)"


def stopword_ratio(text: Column) -> Column:
    """NULL text → NULL (r5 review, verified live: under ANSI-off legacy
    sizeOfNull both sizes are -1, so NULL text returned -1/1 = -1.0 — a
    config-dependent NEGATIVE ratio; ANSI-on gave NULL).

    r6 (guide §4.1): marker hits via regexp_count instead of an interpreted
    HOF filter lambda — codegen'd AND eligible for whole-stage subexpression
    elimination, so quality_score + stopword_ratio in one projection
    evaluate it once (interpreted lambdas were re-evaluated per reference;
    q38 measured 9.4 s → see OPTIMIZATION_r06.md). Token-equivalence of the
    pattern is pinned by tests/test_training_ops.py::
    test_text_regexp_hits_equal_hof_filter."""
    words = F.split(F.lower(F.trim(text)), r"\s+")
    hits = F.regexp_count(F.lower(F.trim(text)), F.lit(_token_hit_pattern(STOPWORDS)))
    return F.when(text.isNull(), F.lit(None).cast("double")).otherwise(
        hits / F.greatest(F.size(words), F.lit(1))
    )


def quality_score(text: Column) -> Column:
    """Composite quality in [0,1]: length band + punctuation + stopwords.

    Deterministic rubric (not a model): docs of reasonable length with
    moderate punctuation and non-zero stopword mass score high.

    r6: the three features are materialized once into a struct and the
    score decodes the fields (see ``_once``) — each when-chain reference of
    punct/stopword re-ran its regex scan before."""
    feats = F.struct(
        F.length(text).alias("n"),
        punct_ratio(text).alias("p"),
        stopword_ratio(text).alias("s"),
    )

    def _decode(h: Column) -> Column:
        len_score = F.when(h["n"] < 10, 0.0).when(h["n"] > 20000, 0.3).otherwise(1.0)
        punct_score = F.when(h["p"] > 0.3, 0.2).otherwise(1.0 - h["p"])
        stop_score = F.when(h["s"] > 0.0, 1.0).otherwise(0.5)
        return F.round((len_score * 0.4 + punct_score * 0.3 + stop_score * 0.3), 6)

    return _once(feats, _decode)


def _once(col: Column, fn) -> Column:
    """Evaluate ``col`` exactly once per row and feed the VALUE to ``fn``.

    Subexpression elimination does not reach expressions inside conditional
    (CASE WHEN) branches, so a when-chain referencing an expensive
    subexpression k times evaluates it k times (measured: lang_id's marker
    counts ~24 evaluations/row, 5.8 s over 50k docs — r6). Wrapping the
    expensive part as the sole element of an array and decoding inside a
    ``transform`` lambda binds it to a lambda VARIABLE: the decode logic
    references the materialized value, never the expression. The lambda body
    is interpreted, but it runs trivial comparisons on already-computed
    scalars."""
    return F.element_at(F.transform(F.array(col), fn), 1)


def lang_id(text: Column) -> Column:
    """Most-hits language over the marker table; ties → lexicographic;
    NULL text → 'und' (r5 review, verified live: under ANSI-off legacy
    sizeOfNull every marker count is -1, so best==-1 passed the best==0
    guard and the first when() branch fired — NULL text got the
    valid-looking label 'de', config-dependently).

    r6: ONE combined-alternation regex scan extracts every marker token
    (regexp_extract_all), per-language counts come from tiny interpreted
    filters over that extracted array, and both stages are materialized
    through ``_once`` so nothing is re-evaluated by the when/greatest
    chains — the old tree re-ran each marker count at every reference
    (~24 scans per row; 5.8 s → ~1 s over 50k docs). For NULL text the
    hit counts are ANSI-config-dependent (size(NULL) is −1 under legacy
    sizeOfNull) but the _isnull guard fires first either way — output
    stays config-independent, pinned by the existing both-ANSI-modes
    tests. Per-row output pinned identical by
    tests/test_training_ops.py::test_text_regexp_hits_equal_hof_filter."""
    langs = sorted(LANG_MARKERS)
    all_marks = sorted({m for marks in LANG_MARKERS.values() for m in marks})
    pattern = r"(?:^|(?<=\s))(" + "|".join(all_marks) + r")(?=\s|$)"
    payload = F.struct(
        F.regexp_extract_all(F.lower(F.trim(text)), F.lit(pattern), 1).alias("m"),
        text.isNull().alias("_isnull"),
    )

    def _member(marks: list[str]):
        mk = tuple(marks)  # no default-arg closure (CLAUDE.md: it binds a Column)
        return lambda w: w.isin(*mk)

    def _count(h: Column) -> Column:
        return F.struct(
            *[
                F.size(F.filter(h["m"], _member(LANG_MARKERS[lang]))).alias(lang)
                for lang in langs
            ],
            h["_isnull"].alias("_isnull"),
        )

    def _decode(h: Column) -> Column:
        best = h[langs[0]]
        for lang in langs[1:]:
            best = F.greatest(best, h[lang])
        out = F.lit("und")
        # reverse order so earlier (lexicographic) languages win ties
        for lang in reversed(langs):
            out = F.when(h[lang] == best, F.lit(lang)).otherwise(out)
        return F.when(h["_isnull"] | (best <= 0), F.lit("und")).otherwise(out)

    return _once(_once(payload, _count), _decode)


def fingerprint(text: Column) -> Column:
    """Content fingerprint: sha2 over whitespace-normalized lowercase text."""
    norm = F.regexp_replace(F.lower(F.trim(text)), r"\s+", " ")
    return F.sha2(norm, 256)


def text_features(docs: DataFrame, text_col: str = "text") -> DataFrame:
    t = F.col(text_col)
    return docs.withColumns(
        {
            "n_tokens": token_count(t),
            "n_bpe_tokens": bpe_token_count(t),
            "punct_ratio": F.round(punct_ratio(t), 6),
            "stopword_ratio": F.round(stopword_ratio(t), 6),
            "quality": quality_score(t),
            "lang_pred": lang_id(t),
            "fingerprint": fingerprint(t),
        }
    )


# -- sequence packing (r4) ----------------------------------------------------
def pack_sequences(
    docs: DataFrame,
    max_tokens: int,
    id_col: str = "doc_id",
    tokens_col: str = "n_tokens",
    n_buckets: int = 1024,
) -> DataFrame:
    """(<id_col>, n_tokens, pack_id, pack_tokens) — assemble documents into
    packs
    of at most ``max_tokens`` total tokens (LLM-training sequence packing:
    fixed-budget context windows assembled from whole documents).

    Scale shape: docs hash into ``n_buckets`` independent buckets (salted
    xxhash64 of the id — deterministic, layout-independent), and each
    bucket packs locally with first-fit-decreasing inside ONE
    applyInPandas group. Packing is embarrassingly parallel across
    buckets; at 10¹² docs the knob is n_buckets (each bucket holds
    ~corpus/n_buckets rows — size it so a bucket fits an Arrow batch).
    FFD within a bucket wastes at most ~1/4 of the budget on typical doc
    mixes, and cross-bucket waste is bounded by one non-full pack per
    bucket — the price of not shuffling the corpus into a single ordered
    stream.

    Contract: every doc appears in exactly one pack; every pack's
    pack_tokens ≤ max_tokens EXCEPT single-doc packs for oversize docs
    (n_tokens > max_tokens), which come out flagged as their own pack with
    pack_id suffix '-oversize' — the caller decides truncate/split/drop
    (this operator never silently drops). Deterministic for fixed inputs
    (seeded hash buckets; stable (tokens desc, id) order inside a bucket).
    """
    if max_tokens < 1:
        raise ValueError(f"max_tokens must be >= 1: {max_tokens}")
    import pandas as pd
    from pyspark.sql import types as T

    # caller's id column keeps its NAME and DTYPE end-to-end (r5 review:
    # the old shape returned a hardcoded string 'id' column — the same
    # query-id preservation defect r4 fixed for pq/ivfpq; the bucket hash
    # still uses the string cast for determinism)
    id_type = docs.schema[id_col].dataType
    sel = docs.select(
        F.col(id_col),
        F.col(tokens_col).cast("long").alias("n_tokens"),
        F.pmod(F.xxhash64(F.col(id_col).cast("string"), F.lit(41)), F.lit(n_buckets))
        .alias("_bucket"),
    )

    schema = T.StructType(
        [
            T.StructField(id_col, id_type),
            T.StructField("n_tokens", T.LongType()),
            T.StructField("pack_id", T.StringType()),
            T.StructField("pack_tokens", T.LongType()),
        ]
    )

    def _pack(pdf: pd.DataFrame) -> pd.DataFrame:
        bucket = int(pdf["_bucket"].iloc[0])
        pdf = pdf.sort_values(
            ["n_tokens", id_col], ascending=[False, True]
        ).reset_index(drop=True)
        packs: list[tuple[int, list[int]]] = []  # (remaining, row indices)
        out_pack = [""] * len(pdf)
        oversize = 0
        nulls = 0
        for i, (tok) in enumerate(pdf["n_tokens"]):
            if pd.isna(tok):
                # null token count (null text upstream): own flagged pack —
                # never a silent drop, never a NaN→int crash (r4 review)
                out_pack[i] = f"b{bucket}-n{nulls}-nulltokens"
                nulls += 1
                continue
            t = int(tok)
            if t > max_tokens:
                out_pack[i] = f"b{bucket}-o{oversize}-oversize"
                oversize += 1
                continue
            for p_i, (rem, members) in enumerate(packs):
                if t <= rem:
                    members.append(i)
                    packs[p_i] = (rem - t, members)
                    break
            else:
                packs.append((max_tokens - t, [i]))
        for p_i, (_, members) in enumerate(packs):
            for i in members:
                out_pack[i] = f"b{bucket}-p{p_i}"
        pdf = pdf.assign(pack_id=out_pack)
        totals = pdf.groupby("pack_id")["n_tokens"].transform("sum").astype("Int64")
        # ADVICE r4: pandas' skipna sum turns a single-NaN nulltokens pack
        # into pack_tokens=0, silently conflating unknown-length docs with
        # empty ones in any token-budget accounting — keep unknown NULL.
        totals = totals.mask(pdf["pack_id"].str.endswith("-nulltokens"))
        return pdf.assign(pack_tokens=totals)[
            [id_col, "n_tokens", "pack_id", "pack_tokens"]
        ]

    return sel.groupBy("_bucket").applyInPandas(_pack, schema)
