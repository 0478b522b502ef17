"""Text analysis for training-data pipelines: token counting, quality
scoring, language identification, document fingerprinting.

Everything is built-in `pyspark.sql.functions` — regexes, array
higher-order functions, and hash functions all run JVM-side inside
whole-stage codegen. No Python in any hot path, so these columns cost
about as much as any projection at 100 TB.
"""

from __future__ import annotations

from typing import Dict, List, Optional, Sequence

import pandas as pd

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

# BPE-ish pretokenizer: letter runs, digit runs, or a single non-space
# symbol — a deterministic, SQL-portable approximation of byte-pair
# pretokenization (both Spark and standard regex engines agree on it).
TOKEN_REGEX = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]"

# Tiny high-frequency stopword lists for the languages in the synthetic
# corpus; language-ID scores a document by stopword hits per language.
STOPWORDS: Dict[str, List[str]] = {
    "en": ["the", "and", "of", "to", "in", "is", "that", "with", "for", "was"],
    "de": ["der", "die", "und", "das", "ist", "nicht", "mit", "ein", "von", "zu"],
    "fr": ["le", "la", "les", "et", "de", "un", "une", "est", "dans", "pour"],
    "es": ["el", "la", "los", "las", "y", "de", "que", "es", "en", "por"],
}


def token_count_col(col: Column) -> Column:
    """Number of BPE-ish tokens (JVM regexp_extract_all + size)."""
    return F.size(F.regexp_extract_all(col, F.lit(TOKEN_REGEX), 0))


# the most bytes a pa.utf8() array's int32 offsets can address
_UTF8_MAX_BYTES = 2**31 - 1

# byte-class table for the vectorized tokenizer: 0 = ASCII whitespace
# (exactly Java/RE2 `\s` = [ \t\n\x0B\f\r]), 1 = [A-Za-z], 2 = [0-9],
# 3 = token-starting "other" byte (any other ASCII symbol or a UTF-8
# lead byte — each such code point is a single `[^A-Za-z0-9\s]` match),
# 4 = UTF-8 continuation byte (extends the current "other" token, never
# starts one)
_TOK_CLS = None


def _tok_cls():
    global _TOK_CLS
    if _TOK_CLS is None:
        import numpy as np

        cls = np.full(256, 3, dtype=np.uint8)
        for b in b" \t\n\x0b\f\r":
            cls[b] = 0
        cls[ord("A"):ord("Z") + 1] = 1
        cls[ord("a"):ord("z") + 1] = 1
        cls[ord("0"):ord("9") + 1] = 2
        cls[0x80:0xC0] = 4
        _TOK_CLS = cls
    return _TOK_CLS


def _tokenize_string_array(arr):
    """Tokenize one Arrow string array into (doc_index int64 ndarray,
    terms pa.StringArray) — the vectorized equivalent of
    ``regexp_extract_all(text, TOKEN_REGEX)`` per row.

    EXACT-EQUIVALENCE ARGUMENT (holds for every valid UTF-8 input, not
    just the fixtures): TOKEN_REGEX = `[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]`
    — findall over it yields maximal runs of ASCII letters, maximal
    runs of ASCII digits, and every other non-whitespace CODE POINT as
    its own single-char match, scanning left to right. All three
    classes are decidable per BYTE: letters/digits/whitespace are pure
    ASCII classes, every other ASCII byte or UTF-8 lead byte begins an
    "other" match, and UTF-8 continuation bytes belong to the lead
    byte's code point. So: classify bytes, drop whitespace bytes, and
    a token starts exactly where (a) the byte class changes, (b) the
    class is "other-start" (single-code-point matches never merge), or
    (c) a new ROW begins — which reproduces the regex token list
    byte-for-byte. Tokens tile the whitespace-stripped byte buffer, so
    the output StringArray is built from ONE compacted data buffer plus
    an offsets array (the §4.2 re-slice trick) — no per-token copies.
    Case handling is NOT done here: callers lower() JVM-side first, so
    lowercase semantics are bit-identical to the pre-Arrow plan."""
    import numpy as np
    import pyarrow as pa

    if arr.null_count:
        import pyarrow.compute as pc

        arr = pc.fill_null(arr, "")
    n = len(arr)
    bufs = arr.buffers()
    width = 8 if pa.types.is_large_string(arr.type) else 4
    odt = np.int64 if width == 8 else np.int32
    off_all = np.frombuffer(bufs[1], dtype=odt)
    off = off_all[arr.offset:arr.offset + n + 1].astype(np.int64)
    base = off[0]
    data = np.frombuffer(bufs[2], dtype=np.uint8)[base:off[-1]]
    off = off - base
    k = _tok_cls()[data]
    keep = k != 0
    cdata = np.ascontiguousarray(data[keep])
    ck = k[keep]
    csum = np.concatenate(([0], np.cumsum(keep)))
    row_start_c = csum[off]  # n+1 entries, compacted coordinates
    if len(ck) == 0:
        return np.zeros(0, dtype=np.int64), pa.array([], type=pa.string())
    # token boundaries are decided on the ORIGINAL byte sequence (a
    # whitespace byte separates two same-class runs; after compaction
    # they would look adjacent), then compacted alongside the data
    prev = np.empty_like(k)
    prev[0] = 0  # start-of-input behaves like whitespace
    prev[1:] = k[:-1]
    starts = ((k != 4) & ((k != prev) | (k == 3)))[keep]
    # force a token break at every row's first kept byte (a letter run
    # must not merge across rows); valid UTF-8 never starts a row with
    # a continuation byte, but guard anyway
    rpos = row_start_c[:-1]
    rpos = rpos[(rpos < row_start_c[1:]) ]
    starts[rpos] |= ck[rpos] != 4
    tstart = np.nonzero(starts)[0]
    # int32 offsets would wrap past 2 GiB of token bytes: widen instead
    large = len(cdata) > _UTF8_MAX_BYTES
    offsets_out = np.concatenate(
        [tstart, [len(cdata)]]
    ).astype(np.int64 if large else np.int32)
    doc_idx = np.searchsorted(
        row_start_c[:-1], tstart, side="right"
    ) - 1
    terms = pa.Array.from_buffers(
        pa.large_utf8() if large else pa.utf8(),
        len(tstart),
        [None, pa.py_buffer(offsets_out), pa.py_buffer(cdata)],
    )
    return doc_idx, terms


def tokens_arrow(
    df: DataFrame,
    id_col: Optional[str],
    text_col: str,
    lowercase: bool = True,
) -> DataFrame:
    """(id, term) token stream — `explode(regexp_extract_all(lower(
    text), TOKEN_REGEX))` computed as ONE vectorized Arrow pass instead
    of a per-row JVM regex (guide §4.2: whole batches into native
    code; the JVM regex stage was the tokenize floor of tfidf/bm25 and
    did not parallelize past memory bandwidth — r17 decomposition,
    500k-doc fixture: 3.4 s at 32c AND 3.9 s at 8c). lower() stays
    JVM-side so case semantics are bit-identical; the byte-level
    tokenizer is exactly equivalent to the regex for every valid UTF-8
    input (see _tokenize_string_array). Null/empty texts yield no rows
    (explode semantics). With ``id_col=None`` emits only ``term``."""
    import pyarrow as pa

    from pyspark.sql.pandas.types import to_arrow_schema

    txt = F.lower(F.col(text_col)) if lowercase else F.col(text_col)
    if id_col is None:
        src = df.select(txt.alias("_txt"))
        out_schema = T.StructType([T.StructField("term", T.StringType())])
    else:
        src = df.select(F.col(id_col).alias("_id"), txt.alias("_txt"))
        out_schema = T.StructType(
            [
                T.StructField("_id", src.schema["_id"].dataType),
                T.StructField("term", T.StringType()),
            ]
        )
    arrow_schema = to_arrow_schema(out_schema)

    def _tok(batches):
        import pyarrow.compute as pc

        for b in batches:
            texts = b.column(b.num_columns - 1)
            doc_idx, terms = _tokenize_string_array(texts)
            if len(terms) == 0:
                continue
            cols = []
            if b.num_columns == 2:
                ids = pc.take(b.column(0), pa.array(doc_idx))
                cols.append(ids.cast(arrow_schema.field(0).type))
            cols.append(terms.cast(arrow_schema.field(-1).type))
            yield pa.RecordBatch.from_arrays(cols, schema=arrow_schema)

    return src.mapInArrow(_tok, out_schema)


def token_tf_arrow(
    df: DataFrame,
    id_col: str,
    text_col: str,
    lowercase: bool = True,
    keep_terms: Optional[Sequence[str]] = None,
    emit_lens: bool = False,
) -> DataFrame:
    """(id, term, tf) PARTIAL term-frequency stream: tokenizes like
    tokens_arrow, then counts (doc, term) pairs INSIDE the worker with
    pyarrow's C++ group_by before anything crosses back to the JVM —
    the §4.2 "aggregate before you ship" form of the tokenize pass.
    Emitting raw tokens made tfidf SLOWER than the JVM regex (r17 A/B:
    9.2 s vs 8.3 s at the 500k-doc fixture) because the full token
    stream paid the Arrow->JVM boundary; per-batch partials cut that
    stream to distinct (doc, term) pairs. Partials are exact under any
    batching (downstream sums them), so results are identical to
    explode + groupBy count.

    ``keep_terms`` (e.g. bm25's driver-side query-term list) filters
    tokens INSIDE the worker before grouping — only matching pairs
    ever cross the boundary; identical to filtering after (a
    downstream equi-join on the same term set drops the rest anyway).

    ``emit_lens`` additionally emits one ``(id, term=NULL, tf=token
    count over ALL tokens)`` row per INPUT row (counted before the
    keep_terms filter, empty/null text counts 0 — exactly
    token_counts_arrow's output, routed through the same frame). A
    consumer that needs both the per-doc lengths and the tf partials
    (bm25) splits the one returned frame on ``term IS NULL`` instead
    of tokenizing the corpus twice — guide §1.2, remove a duplicate
    whole-corpus scan + Arrow transport."""
    import numpy as np
    import pyarrow as pa

    from pyspark.sql.pandas.types import to_arrow_schema

    txt = F.lower(F.col(text_col)) if lowercase else F.col(text_col)
    src = df.select(F.col(id_col).alias("_id"), txt.alias("_txt"))
    out_schema = T.StructType(
        [
            T.StructField("_id", src.schema["_id"].dataType),
            T.StructField("term", T.StringType()),
            T.StructField("tf", T.LongType()),
        ]
    )
    arrow_schema = to_arrow_schema(out_schema)

    keep_set = (
        None if keep_terms is None
        else sorted({str(t) for t in keep_terms})
    )

    def _tf(batches):
        import pyarrow.compute as pc

        value_set = (
            None if keep_set is None else pa.array(keep_set, pa.string())
        )
        for b in batches:
            doc_idx, terms = _tokenize_string_array(b.column(1))
            if emit_lens and b.num_rows:
                lens = np.bincount(
                    doc_idx, minlength=b.num_rows
                ).astype(np.int64)
                yield pa.RecordBatch.from_arrays(
                    [
                        b.column(0).cast(arrow_schema.field(0).type),
                        pa.nulls(b.num_rows, arrow_schema.field(1).type),
                        pa.array(lens, type=pa.int64()),
                    ],
                    schema=arrow_schema,
                )
            if value_set is not None and len(terms):
                mask = pc.is_in(terms, value_set=value_set)
                doc_idx = doc_idx[mask.to_numpy(zero_copy_only=False)]
                terms = terms.filter(mask)
            if len(terms) == 0:
                continue
            grouped = (
                pa.table({"_i": pa.array(doc_idx), "term": terms})
                .group_by(["_i", "term"], use_threads=False)
                .aggregate([("term", "count")])
                .combine_chunks()
            )
            ids = pc.take(b.column(0), grouped.column("_i").chunk(0))
            yield pa.RecordBatch.from_arrays(
                [
                    ids.cast(arrow_schema.field(0).type),
                    grouped.column("term").chunk(0).cast(
                        arrow_schema.field(1).type
                    ),
                    grouped.column("term_count").chunk(0).cast(
                        pa.int64()
                    ),
                ],
                schema=arrow_schema,
            )

    return src.mapInArrow(_tf, out_schema)


def token_counts_arrow(
    df: DataFrame, id_col: str, text_col: str, lowercase: bool = True
) -> DataFrame:
    """(id, _len) per-row token counts via the same vectorized pass —
    replaces a second whole-corpus `size(regexp_extract_all(...))`
    regex scan (bm25's doc-length pass). One output row per input row;
    null/empty text counts 0 (the callers' coalesce(...) semantics)."""
    import numpy as np
    import pyarrow as pa

    from pyspark.sql.pandas.types import to_arrow_schema

    txt = F.lower(F.col(text_col)) if lowercase else F.col(text_col)
    src = df.select(F.col(id_col).alias("_id"), txt.alias("_txt"))
    out_schema = T.StructType(
        [
            T.StructField("_id", src.schema["_id"].dataType),
            T.StructField("_len", T.LongType()),
        ]
    )
    arrow_schema = to_arrow_schema(out_schema)

    def _cnt(batches):
        for b in batches:
            texts = b.column(1)
            doc_idx, terms = _tokenize_string_array(texts)
            counts = np.bincount(doc_idx, minlength=b.num_rows).astype(
                np.int64
            )
            yield pa.RecordBatch.from_arrays(
                [
                    b.column(0).cast(arrow_schema.field(0).type),
                    pa.array(counts, type=pa.int64()),
                ],
                schema=arrow_schema,
            )

    return src.mapInArrow(_cnt, out_schema)


def whitespace_token_count_col(col: Column) -> Column:
    return F.size(F.split(F.trim(col), r"\s+"))


def add_token_count(
    df: DataFrame, text_col: str = "text", out_col: str = "n_tokens"
) -> DataFrame:
    return df.withColumn(out_col, token_count_col(F.col(text_col)))


def quality_metrics(col: Column) -> Dict[str, Column]:
    """Quality-signal columns used by web-corpus filters: lengths, ratios
    of alphabetic / punctuation characters, mean word length, stopword
    ratio (English list)."""
    n_chars = F.length(col)
    words = F.split(F.trim(col), r"\s+")
    n_words = F.size(words)
    n_alpha = F.length(F.regexp_replace(col, "[^A-Za-z]", ""))
    n_punct = F.length(F.regexp_replace(col, "[^.,;:!?'\"()\\[\\]-]", ""))
    n_digit = F.length(F.regexp_replace(col, "[^0-9]", ""))
    lower_words = F.transform(words, lambda w: F.lower(w))
    n_stop = F.size(
        F.filter(lower_words, lambda w: w.isin(*STOPWORDS["en"]))
    )
    return {
        "n_chars": n_chars,
        "n_words": n_words,
        "alpha_ratio": n_alpha / F.greatest(n_chars, F.lit(1)),
        "punct_ratio": n_punct / F.greatest(n_chars, F.lit(1)),
        "digit_ratio": n_digit / F.greatest(n_chars, F.lit(1)),
        "mean_word_len": n_alpha / F.greatest(n_words, F.lit(1)),
        "stopword_ratio": n_stop / F.greatest(n_words, F.lit(1)),
    }


def add_quality_score(
    df: DataFrame, text_col: str = "text", out_col: str = "quality_score"
) -> DataFrame:
    """Composite quality score in [0,1]: rewards alphabetic text with a
    reasonable stopword rate, penalizes punctuation/digit noise. The exact
    weights are a heuristic; the *shape* (pure column arithmetic, one
    projection) is the point."""
    m = quality_metrics(F.col(text_col))
    score = (
        0.4 * F.least(m["alpha_ratio"] / 0.7, F.lit(1.0))
        + 0.3 * F.least(m["stopword_ratio"] / 0.3, F.lit(1.0))
        + 0.3 * (1 - F.least(m["punct_ratio"] + m["digit_ratio"], F.lit(1.0)))
    )
    out = df
    for name, c in m.items():
        out = out.withColumn(name, c) if name not in out.columns else out
    return out.withColumn(out_col, F.round(score, 6))


def language_scores(col: Column) -> Dict[str, Column]:
    words = F.transform(F.split(F.lower(col), r"\s+"), lambda w: F.regexp_replace(w, "[^a-z]", ""))
    return {
        lang: F.size(F.filter(words, lambda w: w.isin(*sw)))
        for lang, sw in STOPWORDS.items()
    }


def add_language_id(
    df: DataFrame, text_col: str = "text", out_col: str = "lang_pred"
) -> DataFrame:
    """Heuristic language-ID: the language whose stopword list scores the
    most hits (ties broken by language code order; 'und' when no hits).
    greatest()/CASE chain — all codegen, no UDF.

    The tokenized-words array and the per-language scores are materialized
    as named intermediate columns: each is referenced several times by the
    CASE chain, and Catalyst's CollapseProject keeps (rather than inlines)
    non-cheap aliases with multiple uses — one split+normalize pass per
    row instead of one per reference."""
    words = F.transform(
        F.split(F.lower(F.col(text_col)), r"\s+"),
        lambda w: F.regexp_replace(w, "[^a-z]", ""),
    )
    tmp = df.withColumn("_lid_words", words)
    score_cols = {
        f"_lid_{lang}": F.size(
            F.filter(F.col("_lid_words"), lambda w: w.isin(*sw))
        )
        for lang, sw in STOPWORDS.items()
    }
    tmp = tmp.withColumns(score_cols)
    best = F.greatest(*[F.col(f"_lid_{lang}") for lang in STOPWORDS])
    pred = F.lit("und")
    for lang in sorted(STOPWORDS.keys(), reverse=True):
        pred = F.when(F.col(f"_lid_{lang}") == best, F.lit(lang)).otherwise(pred)
    pred = F.when(best <= 0, F.lit("und")).otherwise(pred)
    return tmp.withColumn(out_col, pred).drop("_lid_words", *score_cols.keys())


def fingerprint_col(col: Column, n: int = 8) -> Column:
    """Deterministic document fingerprint: the minimum md5 over word
    n-gram shingles (a 1-hash MinHash — robust to reordering edits, and
    portable: any engine with md5 computes the identical value). min over
    the distinct set equals min over the multiset, so the shared shingle
    helper applies."""
    from spark_xml_spark.operators.dedup import _word_shingles

    return F.array_min(F.transform(_word_shingles(col, n), lambda s: F.md5(s)))


def add_fingerprint(
    df: DataFrame, text_col: str = "text", out_col: str = "fingerprint", n: int = 8
) -> DataFrame:
    return df.withColumn(out_col, fingerprint_col(F.col(text_col), n))


def chunk_documents(
    df: DataFrame,
    text_col: str = "text",
    window: int = 256,
    step: Optional[int] = None,
    out_col: str = "chunks",
) -> DataFrame:
    """Sliding-window word chunking — the training-data shape that turns
    documents into model-context-sized pieces with overlap.

    Whitespace-token windows of ``window`` words advancing by ``step``
    (default 3/4 window = 25% overlap); the final window is the remainder
    (never empty for non-empty text; an all-whitespace/empty document
    yields one "" chunk; NULL text yields NULL). ``step > window`` is
    allowed (stride SAMPLING: gaps between chunks) — window starts are
    clamped below the word count, so no phantom empty tail chunk ever
    appears. Adds ``out_col`` as ``array<string>``.

    Scale shape: pure codegen — split / sequence / transform / slice /
    array_join; no UDF, no shuffle, no per-row Python. Memory per row is
    O(window x chunks) strings inside whole-stage codegen, and the
    operator composes with explode for a one-row-per-chunk layout whose
    partitioning follows the source (no exchange until the caller
    aggregates)."""
    if step is None:
        step = max((window * 3) // 4, 1)
    if step <= 0 or window <= 0:
        raise ValueError("window and step must be positive")
    words = F.split(F.trim(F.col(text_col)), r"\s+")
    n = F.size(words)
    k = (
        F.greatest(F.ceil((n - F.lit(window)) / F.lit(step)), F.lit(0))
        + 1
    ).cast("int")
    # clamp: every window START must fall inside the word list — with
    # step > window the coverage formula above can overshoot by one and
    # emit an empty "" tail chunk
    k = F.least(k, (F.floor((n - 1) / F.lit(step)) + 1).cast("int"))
    chunks = F.when(
        F.col(text_col).isNull(), F.lit(None)
    ).otherwise(
        F.transform(
            F.sequence(F.lit(0), k - 1),
            lambda i: F.array_join(F.slice(words, i * step + 1, window), " "),
        )
    )
    return df.withColumn(out_col, chunks)


def deterministic_sample(
    df: DataFrame, id_col: str, rate_pct: int, salt: str = ""
) -> DataFrame:
    """Reproducible corpus sampling: keep a row iff the md5 of
    (salt || id) hashes into the first ``rate_pct`` of 100 buckets.

    Unlike ``df.sample`` (seed- AND partitioning-dependent: a repartition
    changes the sample), membership depends only on the id — stable
    across runs, cluster sizes, and engines (any md5 implementation picks
    the identical rows, so a DuckDB/Trino/Spark pipeline agrees on the
    sample). Pure codegen filter: pushes down to the scan like any
    predicate; changing ``salt`` draws an independent sample.

    NULL ids hash as the empty string (one fixed bucket for all of them),
    so rate 100 keeps every row and a rate/complement split over salts
    never silently drops null-id rows — a bare md5(NULL) would NULL the
    predicate and filter them out at any rate."""
    if not 0 <= rate_pct <= 100:
        raise ValueError("rate_pct must be in [0, 100]")
    return df.filter(_md5_bucket(F.col(id_col), salt) < F.lit(rate_pct))


def group_sample(
    df: DataFrame,
    group_col: str,
    id_col: str,
    k: int,
    salt: str = "",
) -> DataFrame:
    """Deterministic exactly-k-per-group sampling: within each group
    keep the k rows whose md5(salt || id) ranks smallest (ties broken
    on the id), a uniform draw that — like :func:`deterministic_sample`
    — depends only on the ids: stable across runs, partitionings, and
    engines, and REBALANCED corpora stay comparable (adding rows to one
    group never changes another group's sample; re-running after an
    append keeps every still-ranked row). Groups smaller than k keep
    all rows. Adds a ``sample_rank`` column (1..k).

    PRECONDITION: ``id_col`` must be unique within each group (it is an
    id). Rows sharing an id — including multiple NULL ids, which all
    hash alike — tie on the full (hash, id) sort key, and which of the
    tied ROWS wins is partitioning-dependent; the determinism contract
    holds at the id level only.

    Scale shape (100 TB): one shuffle on the group key; the rank is a
    window over (group, hash) — per-task state is one group partition's
    sort run, no vocabulary, no broadcast, no driver collect. For
    hot-group skew, pre-salting the group key and re-ranking the k*S
    survivors is the standard two-phase refinement."""
    if k <= 0:
        raise ValueError("k must be positive")
    if "sample_rank" in df.columns:
        # overwriting a caller's column with the rank would silently
        # corrupt it — the same fail-loud contract hash_embed's out_col
        # check enforces
        raise ValueError(
            "input already has a 'sample_rank' column; rename it before "
            "group_sample"
        )
    from pyspark.sql import Window

    hv = F.md5(
        F.concat(
            F.lit(salt), F.coalesce(F.col(id_col).cast("string"), F.lit(""))
        )
    )
    w = Window.partitionBy(group_col).orderBy(hv.asc(), F.col(id_col).asc())
    return (
        df.withColumn("sample_rank", F.row_number().over(w).cast("long"))
        .filter(F.col("sample_rank") <= k)
    )


def hash_embed(
    df: DataFrame,
    text_col: str,
    id_col: str = "doc_id",
    dim: int = 64,
    salt: str = "",
    out_col: str = "embedding",
) -> DataFrame:
    """Feature-hashing ("hashing trick") text vectorizer: each document
    becomes a fixed-``dim`` signed term-frequency vector with NO
    vocabulary — token t adds sign(t) at bucket(t), both derived from
    engine-portable md5 prefixes (the Weinberger et al. construction:
    the random signs make bucket collisions cancel in expectation, so
    inner products are unbiased estimates of the bag-of-words inner
    product). Output: (id_col, out_col array<bigint>), one row per
    input row — tokenless documents get the zero vector.

    The bucket/sign HASHING is integer-exact and engine-portable (any
    md5 implementation agrees), so the vectors are verifiable — unlike
    HashingTF's engine-private murmur3. Tokenization is Java ``\\s+``
    over lowercased text: reproduce it with the same ASCII whitespace
    class in other engines (Python's ``str.split`` and RE2's ``\\s``
    additionally split some Unicode whitespace — NBSP-bearing corpora
    tokenize differently there).

    ``id_col`` identifies the DOCUMENT: output is one row per distinct
    id, and rows sharing an id (including a NULL id — one group, like
    any groupBy key) merge their tokens into one vector.

    Scale shape (100 TB): tokenize + hash are pure codegen over ONE
    scan (explode_outer keeps tokenless documents in the stream — no
    restore join); one (id, bucket) partial-sum shuffle, then per-id
    assembly via map_from_entries + a dim-bounded transform (no pivot,
    no vocabulary broadcast, no UDF). State per group is O(dim)."""
    if dim <= 0 or dim > 0xFFFF:
        raise ValueError("dim must be in [1, 65535]")  # 4 hex digits
    words = F.split(F.lower(F.col(text_col)), r"\s+")
    toks = F.filter(words, lambda t: t != F.lit(""))
    tok = df.select(F.col(id_col), F.explode_outer(toks).alias("_t"))
    bucket = (_md5_hex_head(F.col("_t"), "b" + salt, 4) % dim).alias("_b")
    sign = (
        F.lit(1) - 2 * (_md5_hex_head(F.col("_t"), "s" + salt, 1) % 2)
    ).alias("_s")
    weights = (
        tok.select(id_col, bucket, sign)
        .groupBy(id_col, "_b")
        .agg(F.sum("_s").cast("long").alias("_w"))
    )
    return (
        weights.groupBy(id_col)
        .agg(
            F.map_from_entries(
                # the NULL-bucket entry is the explode_outer marker row
                # of a tokenless document — drop it from the map but
                # keep the id (an empty map yields the zero vector)
                F.filter(
                    F.collect_list(F.struct(F.col("_b"), F.col("_w"))),
                    lambda e: e["_b"].isNotNull(),
                )
            ).alias("_m")
        )
        .select(
            id_col,
            F.transform(
                F.sequence(F.lit(0), F.lit(dim - 1)),
                lambda i: F.coalesce(
                    F.element_at(F.col("_m"), i.cast("long")),
                    F.lit(0).cast("long"),
                ),
            ).alias(out_col),
        )
    )


# PII patterns chosen to parse identically under Java regex (Spark) and
# RE2 (DuckDB/Go tooling): no backreferences, no lookaround — a redaction
# applied by any engine in the pipeline removes the same spans.
PII_EMAIL_REGEX = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PII_IPV4_REGEX = r"\b(?:\d{1,3}\.){3}\d{1,3}\b"
PII_PHONE_REGEX = r"\b\d{3}-\d{4}\b"

# skip an optional userinfo@ prefix so 'https://good.com@evil.net/x'
# reports the real HOST (evil.net), not the userinfo bait — the classic
# blocklist-bypass URL shape
URL_DOMAIN_REGEX = r"https?://(?:[^/\s@]*@)?([A-Za-z0-9.-]+)"


def repetition_metrics(
    df: DataFrame,
    text_col: str = "text",
    n: int = 2,
    prefix: str = "rep_",
) -> DataFrame:
    """Gopher-style within-document repetition signals over word
    ``n``-grams: ``<prefix>total`` (n-gram count), ``<prefix>distinct``,
    ``<prefix>dup_frac`` (fraction of n-grams that repeat an earlier
    one), ``<prefix>top_frac`` (fraction held by the single most frequent
    n-gram). Heavily repetitive machine-generated text scores high on
    both; the thresholds in Rae et al. (Gopher) drop documents above
    ~0.2 dup / ~0.18 top for 2-grams.

    Documents shorter than ``n`` words count as ONE whole-text gram
    (dup_frac 0, top_frac 1) — same fallback as the shingle operators.
    NULL text propagates NULL through every metric (chunk_documents
    convention; also what the SQL mirror computes, where aggregates
    skip the NULLs).

    Scale shape: entirely per-row codegen (split / transform / slice /
    array_distinct / filter) — no shuffle, no UDF; the per-row cost is
    O(distinct x total) string compares on short arrays, which stays
    inside whole-stage codegen. Embarrassingly parallel at any corpus
    size."""
    if n <= 0:
        raise ValueError("n must be positive")
    # materialize the split once: a lambda body referencing the raw
    # split() subtree re-evaluates it per n-gram (higher-order functions
    # don't hoist subexpressions out of lambdas)
    df = df.withColumn(
        "_rep_words", F.split(F.lower(F.trim(F.col(text_col))), r"\s+")
    )
    words = F.col("_rep_words")
    grams = F.when(F.size(words) >= n, F.transform(
        F.sequence(F.lit(0), F.size(words) - n),
        lambda i: F.array_join(F.slice(words, i + 1, n), " "),
    )).otherwise(F.array(F.array_join(words, " ")))
    grams = F.when(F.col(text_col).isNotNull(), grams)
    # materialize grams once in a projection so the four metrics don't
    # re-evaluate the transform (codegen common-subexpression reuse is
    # not guaranteed across withColumns)
    g = F.col("_grams")
    dist = F.array_distinct(g)
    top = F.array_max(
        F.transform(F.array_distinct(g),
                    lambda d: F.size(F.filter(g, lambda x: x == d)))
    )
    return (
        df.withColumn("_grams", grams)
        .withColumn(prefix + "total", F.size(g).cast("bigint"))
        .withColumn(prefix + "distinct", F.size(dist).cast("bigint"))
        .withColumn(
            prefix + "dup_frac",
            (F.col(prefix + "total") - F.col(prefix + "distinct"))
            / F.col(prefix + "total"),
        )
        .withColumn(prefix + "top_frac", top / F.size(g))
        .drop("_grams", "_rep_words")
    )


def pii_redact(
    df: DataFrame,
    text_col: str = "text",
    out_col: str = "text_redacted",
) -> DataFrame:
    """PII scrubbing for training corpora: counts emails / IPv4 addresses
    / short phone forms in ``text_col`` and adds ``out_col`` with each
    span replaced by a typed placeholder ([EMAIL], [IP], [PHONE]).

    Counts are measured on the ORIGINAL text per pattern independently;
    redaction applies email -> ip -> phone in sequence (the patterns
    cannot create each other's matches: emails require an alphabetic
    TLD, phones a hyphen). Pure codegen regexp_extract_all /
    regexp_replace — no shuffle, no UDF, scan-parallel at any size."""
    col = F.col(text_col)
    red = F.regexp_replace(col, PII_EMAIL_REGEX, "[EMAIL]")
    red = F.regexp_replace(red, PII_IPV4_REGEX, "[IP]")
    red = F.regexp_replace(red, PII_PHONE_REGEX, "[PHONE]")
    return (
        df.withColumn(
            "n_emails",
            F.size(F.regexp_extract_all(col, F.lit(PII_EMAIL_REGEX), 0))
            .cast("bigint"),
        )
        .withColumn(
            "n_ipv4",
            F.size(F.regexp_extract_all(col, F.lit(PII_IPV4_REGEX), 0))
            .cast("bigint"),
        )
        .withColumn(
            "n_phones",
            F.size(F.regexp_extract_all(col, F.lit(PII_PHONE_REGEX), 0))
            .cast("bigint"),
        )
        .withColumn(out_col, red)
    )


def extract_url_domains(
    df: DataFrame,
    text_col: str = "text",
    out_col: str = "domain",
) -> DataFrame:
    """One row per URL occurrence in ``text_col`` with its lowercased
    host in ``out_col`` (http/https only). Documents without URLs drop
    out (explode of an empty array) — callers wanting per-document
    presence join back or use explode_outer semantics themselves.

    The usual consumer is a domain-distribution aggregate (blocklists,
    source weighting): explode + groupBy(domain) is one map-side
    combinable shuffle keyed on the domain — scale-safe; hot domains
    collapse in the partial aggregate."""
    return df.withColumn(
        out_col,
        F.explode(
            F.regexp_extract_all(F.col(text_col), F.lit(URL_DOMAIN_REGEX), 1)
        ),
    ).withColumn(out_col, F.lower(F.col(out_col)))


def mix_sample(
    df: DataFrame,
    group_col: str,
    id_col: str,
    weights: Dict[str, int],
    total: Optional[int] = None,
    salt: str = "",
    bp: int = 10000,
) -> DataFrame:
    """Source-mix rebalancing — the "data mixing" stage of corpus prep:
    sample each group toward TARGET PROPORTIONS ``weights`` (integers;
    groups absent from the map are dropped) using the same deterministic
    md5-bucket membership as ``deterministic_sample`` (basis-point
    granularity), so the sampled corpus is reproducible across runs,
    partitionings, and engines.

    With W = sum(weights over groups present), the largest feasible
    sample is T_max = min_g floor(n_g * W / w_g) (no group can be asked
    for more rows than it has); T = min(total, T_max); each group's
    target is t_g = floor(T * w_g / W) and its keep-rate
    floor(bp * t_g / n_g) basis points. All-integer arithmetic, so any
    engine recomputes the identical rates and membership.

    Scale shape: one map-side-combinable count per group, an
    O(#groups) DRIVER fold for the rate table (groups are
    dimension-sized — the same scale class as the schema folds), then a
    broadcast join + pure codegen hash filter over the corpus — the
    corpus itself is scanned ONCE and never shuffled."""
    if not weights:
        raise ValueError("weights must be non-empty")
    if any(w < 0 for w in weights.values()):
        raise ValueError("weights must be non-negative")
    if bp <= 0:
        raise ValueError("bp must be positive")
    counts = {
        r["_g"]: r["_n"]
        for r in df.groupBy(F.col(group_col).alias("_g"))
        .agg(F.count("*").alias("_n"))
        .collect()
        if weights.get(r["_g"], 0) > 0
    }
    if not counts:
        return df.filter(F.lit(False))
    # all-integer rate math so ANY engine recomputes identical rates:
    # T_max = min_g floor(n_g*W/w_g); t_g = floor(T*w_g/W);
    # rate_g = floor(bp*t_g/n_g) basis points
    W = sum(weights[g] for g in counts)
    t_cap = min(n * W // weights[g] for g, n in counts.items())
    T = t_cap if total is None else min(total, t_cap)
    rates = df.sparkSession.createDataFrame(
        [(g, bp * (T * weights[g] // W) // n) for g, n in counts.items()],
        f"_g string, _rate long",
    )
    bucket = (
        F.conv(
            F.substring(
                F.md5(
                    F.concat(
                        F.lit(salt),
                        F.coalesce(F.col(id_col).cast("string"), F.lit("")),
                    )
                ),
                1, 4,
            ),
            16, 10,
        ).cast("long")
        % bp
    )
    return (
        df.join(F.broadcast(rates), df[group_col] == F.col("_g"))
        .filter(bucket < F.col("_rate"))
        .drop("_g", "_rate")
    )


def pack_sequences(
    df: DataFrame,
    id_col: str,
    tokens_col: str,
    seq_len: int,
    num_partitions: Optional[int] = None,
) -> DataFrame:
    """Concat-and-chunk sequence packing — the pretraining step that lays
    documents end-to-end in deterministic ascending ``id_col`` order and
    cuts the token stream every ``seq_len`` tokens. Adds, per document:

      tok_offset  exclusive prefix sum of tokens before this document
      seq_first   training-sequence index of its first token
      seq_last    training-sequence index of its last token
      n_seqs      sequences it spans (0 for empty documents)

    Ids must be unique and non-null (the order must be total for offsets
    to be well-defined); NULL token counts pack as 0 tokens. All
    arithmetic is integral (`div`), so any engine replays the identical
    sequence layout from the same (id, token-count) pairs.

    Scale shape — the distributed prefix-sum pattern: range-repartition
    on id, ONE per-partition token sum collected to the driver (O(P)
    rows, the same scale class as the schema folds), then a single
    streaming Arrow pass that adds each partition's broadcast base
    offset to a running within-partition cumsum (mapInPandas sees one
    partition's batches in order, so the carry is exact). The naive
    ``SUM(n) OVER (ORDER BY id)`` global window — one task sorting the
    whole corpus — never appears, and the only shuffle is the range
    exchange; a window keyed on the partition id would add a second
    full-corpus exchange, which the carry pass avoids. The ranged frame
    persists so the sum pass and the output branch share one evaluation
    (same generation discipline as the dedup intermediates).
    """
    if seq_len <= 0:
        raise ValueError("seq_len must be positive")
    from pyspark.sql import types as T
    from spark_xml_spark.operators.dedup import (
        _persist_intermediate,
        _retire_intermediates,
    )

    spark = df.sparkSession
    p = num_partitions or spark.sparkContext.defaultParallelism
    _retire_intermediates("pack_sequences")
    ranged = _persist_intermediate(
        df.withColumn(
            "_pk_tok", F.coalesce(F.col(tokens_col).cast("long"), F.lit(0))
        )
        .repartitionByRange(p, F.col(id_col))
        .sortWithinPartitions(id_col)
        .withColumn("_pk_pid", F.spark_partition_id()),
        "pack_sequences",
    )
    sums = {
        r["_pk_pid"]: r["_s"]
        for r in ranged.groupBy("_pk_pid")
        .agg(F.sum("_pk_tok").alias("_s"))
        .collect()
    }
    base, offs = 0, {}
    for pid in range(ranged.rdd.getNumPartitions()):
        offs[pid] = base
        base += sums.get(pid, 0)

    out_schema = T.StructType(
        ranged.schema.fields + [T.StructField("_pk_off", T.LongType(), False)]
    )

    def add_offsets(batches):
        carry = None
        for pdf in batches:
            if len(pdf) == 0:
                yield pdf.assign(_pk_off=pdf.get("_pk_tok"))
                continue
            if carry is None:
                carry = offs.get(int(pdf["_pk_pid"].iloc[0]), 0)
            n = pdf["_pk_tok"].to_numpy(dtype="int64")
            ends = n.cumsum() + carry
            carry = int(ends[-1])
            yield pdf.assign(_pk_off=ends - n)

    packed = ranged.mapInPandas(add_offsets, schema=out_schema)
    return (
        packed.withColumn("tok_offset", F.col("_pk_off"))
        .withColumn("seq_first", F.expr(f"_pk_off div {seq_len}"))
        .withColumn(
            "seq_last",
            F.expr(
                f"CASE WHEN _pk_tok > 0 THEN (_pk_off + _pk_tok - 1)"
                f" div {seq_len} ELSE _pk_off div {seq_len} END"
            ),
        )
        .withColumn(
            "n_seqs",
            F.when(
                F.col("_pk_tok") > 0,
                F.col("seq_last") - F.col("seq_first") + F.lit(1),
            ).otherwise(F.lit(0)).cast("long"),
        )
        .drop("_pk_tok", "_pk_pid", "_pk_off")
    )


def _md5_hex_head(col: Column, salt: str, n: int) -> Column:
    """THE engine-portable hash primitive shared by every md5-derived
    bucket/sign in this module (and mirrored verbatim in the DuckDB
    oracles): the first ``n`` hex digits of md5(salt || col) as a long.
    NULL input propagates NULL (callers choose their own NULL policy —
    _md5_bucket coalesces to '', hash_embed filters). Change this in
    ONE place only; three independent copies of the recipe was a
    review-flagged divergence hazard."""
    return F.conv(
        F.substring(F.md5(F.concat(F.lit(salt), col)), 1, n), 16, 10
    ).cast("long")


def _md5_bucket(col: Column, salt: str, mod: int = 100) -> Column:
    """Engine-portable [0, mod) bucket of (salt || id): first 16 bits of
    the md5 hex digest, mod ``mod``. NULL ids hash as '' (one fixed
    bucket) so a split/sample over buckets never silently drops null-id
    rows. Any md5 implementation (Spark, DuckDB, Trino, Python) assigns
    the identical bucket, so a mixed-engine pipeline agrees on splits."""
    return (
        _md5_hex_head(F.coalesce(col.cast("string"), F.lit("")), salt, 4)
        % mod
    )


def train_val_test_split(
    df: DataFrame,
    id_col: str,
    val_pct: int = 10,
    test_pct: int = 10,
    salt: str = "",
    out_col: str = "split",
) -> DataFrame:
    """Deterministic train/val/test assignment for a training corpus:
    md5 bucket of (salt || id) over 100 — bucket < test_pct -> 'test',
    next val_pct buckets -> 'val', the rest -> 'train'.

    Membership depends only on the id (not seed, partitioning, or
    cluster size), so the split is reproducible across runs and engines,
    new data lands in the same proportions without resplitting the old,
    and a doc can never migrate between splits as the corpus grows — the
    property that prevents silent train/test contamination. Pure codegen
    projection; changing ``salt`` draws an independent split."""
    if not (0 <= val_pct and 0 <= test_pct and val_pct + test_pct <= 100):
        raise ValueError("val_pct/test_pct must be >= 0 and sum to <= 100")
    b = _md5_bucket(F.col(id_col), salt)
    return df.withColumn(
        out_col,
        F.when(b < test_pct, F.lit("test"))
        .when(b < test_pct + val_pct, F.lit("val"))
        .otherwise(F.lit("train")),
    )


def vocab_topk(
    df: DataFrame, text_col: str = "text", k: int = 100, lowercase: bool = True
) -> DataFrame:
    """Corpus vocabulary: the k most frequent tokens (TOKEN_REGEX
    tokenization, lowercased by default) with their total counts.
    Ties break by the token's UTF-8 BYTES ascending — a deterministic
    total order on (n desc, token) that every engine reproduces: a raw
    string sort would tie-break in UTF-16 code-unit order on the JVM
    (supplementary-plane chars sort below U+E000..U+FFFF) but code-point
    order elsewhere, flipping the k boundary on non-BMP ties.

    Plan shape for 100 TB: explode -> hash-aggregate on token (partial
    map-side combine collapses each partition's counts before the ONE
    shuffle) -> TakeOrderedAndProject(k) — the driver receives k rows,
    never the vocabulary."""
    # Arrow-vectorized tokenize + in-worker per-term partial counts
    # (exactly regex-equivalent — see _tokenize_string_array /
    # token_tf_arrow): only vocabulary-sized (term, count) partials
    # cross the Python->JVM boundary, one batch's worth per batch
    counts = token_tf_arrow(
        df.select(F.lit(0).alias("_g"), F.col(text_col)),
        "_g",
        text_col,
        lowercase=lowercase,
    )
    return (
        counts.select(F.col("term").alias("token"), "tf")
        .groupBy("token")
        .agg(F.sum("tf").cast("long").alias("n"))
        .orderBy(F.col("n").desc(), F.encode(F.col("token"), "UTF-8"))
        .limit(k)
    )


def tfidf_top_terms(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
) -> DataFrame:
    """Per-document TF-IDF top-k terms — the classic relevance /
    keyword-extraction primitive of a text pipeline. Tokens are
    lowercased TOKEN_REGEX matches; tf = in-document term count, df =
    number of documents containing the term (corpus-wide), idf =
    ln((N+1)/(df+1)) with N = distinct documents; score = round(tf *
    idf, 6) — rounded BEFORE ranking in both engines so a last-ulp
    libm difference cannot flip the k boundary, with ties broken by
    the term's UTF-8 bytes (vocab_topk's cross-engine total order).
    Output: id, term, tf, df, score for each document's top k.

    Plan shape for 100 TB: explode -> (id, term) hash aggregate (1
    shuffle, map-side combine), PERSISTED (scoped-intermediate
    protocol) because it feeds two branches — the term-keyed doc-freq
    aggregate and the scoring join — which would otherwise re-evaluate
    the corpus explode+shuffle once each (verified: 2 Generate nodes,
    0 ReusedExchange without the persist). The join is term-keyed and
    NOT broadcast (a web-scale vocabulary exceeds driver memory); N
    enters as a 1-row broadcast; per-doc window top-k adds 1 shuffle
    on id. Per-task state = one document's terms in the window;
    nothing corpus-sized ever collects."""
    from pyspark.sql import Window

    from spark_xml_spark.operators.dedup import (
        _persist_intermediate,
        _retire_intermediates,
    )

    # Tokenize stays the JVM regex HERE deliberately: the r17 Arrow
    # tokenizer (token_tf_arrow — adopted by bm25/vocab, 2.0x/2.7x at
    # the 500k-doc fixture) measured a NEGATIVE for tfidf both at
    # sf0.1 (1.24 -> 1.34 s) and at x100 (9.3 -> 10.8 s): tfidf keeps
    # EVERY (doc, term) pair — nothing shrinks in-worker, so the full
    # pair stream pays the Python->JVM boundary that the regex path
    # never crosses, and the regex cost is the smaller of the two.
    toks = df.select(
        F.col(id_col).alias("_id"),
        F.explode(
            F.regexp_extract_all(
                F.lower(F.col(text_col)), F.lit(TOKEN_REGEX), 0
            )
        ).alias("term"),
    )
    _retire_intermediates("tfidf_top_terms")  # own previous call only
    tf = _persist_intermediate(
        toks.groupBy("_id", "term").agg(F.count("*").alias("tf")),
        "tfidf_top_terms",
    )
    dfq = tf.groupBy("term").agg(F.count("*").alias("df"))
    n = df.agg(F.count_distinct(F.col(id_col)).alias("_n"))
    scored = (
        tf.join(dfq, "term")
        .crossJoin(F.broadcast(n))
        .withColumn(
            "score",
            F.round(
                F.col("tf")
                * F.log((F.col("_n") + F.lit(1.0)) / (F.col("df") + 1)),
                6,
            ),
        )
    )
    w = Window.partitionBy("_id").orderBy(
        F.col("score").desc(), F.encode(F.col("term"), "UTF-8")
    )
    return (
        scored.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= k)
        .select(
            F.col("_id").alias(id_col), "term", "tf", "df", "score"
        )
    )


def bm25_topk(
    df: DataFrame,
    query: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """BM25 document ranking for a query string (Robertson/Sparck
    Jones; the lexical-retrieval baseline every contamination check and
    hard-negative miner needs). Query and documents tokenize with the
    same lowercased TOKEN_REGEX; score(d) = sum over DISTINCT query
    terms t of idf(t) * tf * (k1+1) / (tf + k1 * (1 - b + b * len_d /
    avg_len)), idf = ln((N - df + 0.5) / (df + 0.5) + 1) (the
    non-negative Lucene form). Scores round to 6 decimals BEFORE
    ranking (cross-engine k boundary; same discipline as
    tfidf_top_terms), ties by id ascending. Output: id, score,
    n_hits (distinct query terms present).

    Plan shape for 100 TB: doc tokens explode -> (id, term) aggregate
    (1 shuffle) restricted to the BROADCAST query-term set (a query is
    tiny, unlike a vocabulary); df-per-query-term and (N, avg_len)
    are one-row/tiny aggregates entering by broadcast; the final
    per-doc sum is one hash aggregate; TakeOrderedAndProject returns
    k rows to the driver."""
    import re as _re

    q_terms = sorted(set(_re.findall(TOKEN_REGEX, query.lower())))
    if not q_terms:
        raise ValueError("query produced no tokens under TOKEN_REGEX")
    spark = df.sparkSession
    qdf = spark.createDataFrame(
        [(t,) for t in q_terms], "term string"
    )
    # ONE Arrow-vectorized corpus pass (exactly regex-equivalent; sum
    # of partials == count — see token_tf_arrow) emitting BOTH streams
    # bm25 needs: query-term (doc, term, tf) partials (filter pushed
    # INTO the worker — only matching pairs cross the boundary) AND
    # per-doc token lengths as term=NULL rows (token_counts_arrow's
    # output routed through the same frame). Splitting one persisted
    # frame replaces the r17-initial TWO whole-corpus tokenize passes
    # (lens pass + tf pass — each ~0.76 s at the x100 fixture, 32c);
    # guide §1.2, remove a duplicate scan + JVM->Arrow transport.
    from spark_xml_spark.operators.dedup import (
        _persist_intermediate,
        _retire_intermediates,
    )

    _retire_intermediates("bm25_topk")  # own previous call only
    combined = _persist_intermediate(
        token_tf_arrow(
            df, id_col, text_col, keep_terms=q_terms, emit_lens=True
        ),
        "bm25_topk",
    )
    # per-doc length over ALL tokens (counted before the query filter);
    # NULL text = 0 tokens, identical to the old coalesce(
    # size(regexp_extract_all(...)), 0) semantics
    lens = combined.filter(F.col("term").isNull()).select(
        "_id", F.col("tf").alias("_len")
    )
    stats = lens.agg(
        F.count("*").alias("_n"),
        F.avg("_len").alias("_avg"),
    )
    # tf feeds TWO branches (df-per-term aggregate + scoring join);
    # persisted like combined, else the partial-sum aggregate runs twice
    tf = _persist_intermediate(
        combined.filter(F.col("term").isNotNull())
        .join(F.broadcast(qdf), "term")
        .groupBy("_id", "term")
        .agg(F.sum("tf").alias("tf")),
        "bm25_topk",
    )
    dfq = tf.groupBy("term").agg(F.count("*").alias("df"))
    scored = (
        tf.join(F.broadcast(dfq), "term")
        .join(lens, "_id")
        .crossJoin(F.broadcast(stats))
        .withColumn(
            "_idf",
            F.log(
                (F.col("_n") - F.col("df") + F.lit(0.5))
                / (F.col("df") + F.lit(0.5))
                + F.lit(1.0)
            ),
        )
        .withColumn(
            "_s",
            F.col("_idf")
            * (F.col("tf") * F.lit(k1 + 1.0))
            / (
                F.col("tf")
                + F.lit(k1)
                * (
                    F.lit(1.0 - b)
                    + F.lit(b) * F.col("_len") / F.col("_avg")
                )
            ),
        )
    )
    return (
        scored.groupBy("_id")
        .agg(
            F.round(F.sum("_s"), 6).alias("score"),
            F.count("*").cast("bigint").alias("n_hits"),
        )
        .select(F.col("_id").alias(id_col), "score", "n_hits")
        .orderBy(F.col("score").desc(), F.col(id_col))
        .limit(k)
    )


# Closed integer bucket edges (tokens <= edge). Integer comparisons keep
# the bucketing byte-identical across engines — a log2()-based bucket
# can flip at exact powers of two under float rounding.
LENGTH_BUCKET_EDGES = (16, 64, 256, 1024, 4096)


def length_bucket_stats(
    df: DataFrame, text_col: str = "text", edges=LENGTH_BUCKET_EDGES
) -> DataFrame:
    """Sequence-length histogram for batch planning: assign each doc to
    the smallest edge bucket holding its token count (TOKEN_REGEX
    tokens; above the last edge -> 'gt<last>') and aggregate per-bucket
    doc count, token sum, and token max. One projection + one map-side-
    combinable aggregate on a handful of keys — the scan dominates at
    any scale. Training batchers use the histogram to pick bucket
    boundaries that minimize padding waste. NULL text counts as 0 tokens
    (landing in the smallest bucket) — without the guard a NULL count
    falls through every `n <= edge` comparison into the LARGEST bucket
    (and under legacy non-ANSI sizeOfNull=-1 would also corrupt
    sum_tokens), inflating exactly the bucket batch planners use to
    size padding."""
    n = F.when(F.col(text_col).isNull(), F.lit(0)).otherwise(
        token_count_col(F.col(text_col))
    )
    bucket = F.lit(f"gt{edges[-1]}")
    for e in reversed(edges):
        bucket = F.when(n <= e, F.lit(f"le{e}")).otherwise(bucket)
    return (
        df.select(bucket.alias("bucket"), n.alias("_n"))
        .groupBy("bucket")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("_n").cast("bigint").alias("sum_tokens"),
            F.max("_n").cast("bigint").alias("max_tokens"),
        )
    )


def unigram_logprob_score(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    out_col: str = "lm_score",
) -> DataFrame:
    """CCNet-style unigram language-model quality signal: each document
    scores the MEAN log10 probability of its tokens under the corpus's
    own unigram distribution (lowercased TOKEN_REGEX tokens).
    Gibberish, boilerplate-stripped noise, and wrong-language text sit
    in the low tail; filtering on the score is the classic
    quality-pruning stage (CCNet, Gopher, RefinedWeb all use an LM
    signal of this family — here self-supervised, no external model).

    Plan shape for 100 TB: the tokenize-explode projection feeds the
    vocabulary count (map-side-combinable aggregate) and the scoring
    join as two evaluations of the same cheap lineage — deliberately
    recomputed, NOT persisted: an exploded token frame is ~10x the
    corpus and caching it would dwarf the second scan it saves. The
    VOCAB frame, by contrast, is bounded by vocabulary size (sublinear
    in corpus bytes) and consumed by two branches — the log-prob table
    and the corpus total — so it persists via the scoped-intermediate
    protocol (MEMORY_AND_DISK, own-previous-generation retirement);
    without it the total's 1-row aggregate re-evaluates the whole
    tokenize+explode+shuffle lineage per call (Spark plans the two
    aggregates as separate exchanges, no ReuseExchange), a third full
    corpus pass measured at ~29% of the query wall on a 500k-doc
    fixture. The corpus total enters via a broadcast cross-join of a
    1-row aggregate (never a driver collect), and the token->logprob
    join is left to AQE — a min-count-pruned real vocabulary
    broadcasts, but the operator must not force it (a 100M-entry vocab
    would OOM a forced broadcast; persisting it is fine — the cache
    spills and evicts). Documents with zero tokens keep a NULL score
    via the final left join rather than silently dropping.

    Raises on output-name collisions (the join-back would otherwise
    produce two ambiguous columns — e.g. composing with
    add_token_count, whose default out_col is also 'n_tokens')."""
    for taken in (out_col, "n_tokens"):
        if taken in df.columns:
            raise ValueError(
                f"unigram_logprob_score would add column {taken!r}, which "
                f"already exists on the input; rename one of them"
            )
    from .dedup import _persist_intermediate, _retire_intermediates

    _retire_intermediates("unigram_logprob_score")  # own previous call only
    toks = df.select(
        F.col(id_col).alias("_id"),
        F.explode(
            F.regexp_extract_all(F.lower(F.col(text_col)), F.lit(TOKEN_REGEX), 0)
        ).alias("_tok"),
    )
    vocab = _persist_intermediate(
        toks.groupBy("_tok").agg(F.count("*").alias("_n")), "unigram_logprob_score"
    )
    total = vocab.agg(F.sum("_n").alias("_total"))
    logprob = vocab.crossJoin(F.broadcast(total)).select(
        "_tok", F.log10(F.col("_n") / F.col("_total")).alias("_lp")
    )
    scores = (
        toks.join(logprob, "_tok")
        .groupBy("_id")
        .agg(
            F.avg("_lp").alias(out_col),
            F.count("*").cast("bigint").alias("_n_tokens"),
        )
    )
    return df.join(
        scores.select(
            F.col("_id").alias(id_col), out_col, F.col("_n_tokens").alias("n_tokens")
        ),
        id_col,
        "left",
    )


def deterministic_shuffle(
    df: DataFrame, id_col: str, salt: str = "", out_col: str = "shuffle_key"
) -> DataFrame:
    """Reproducible global shuffle for training-data ordering: sort by
    the md5 of (salt || id). Every epoch's order is a pure function of
    (corpus, salt) — change the salt to draw a fresh permutation —
    so a resumed or re-run job reads the identical sequence, and any
    engine reproduces it (the portability argument of _md5_bucket).

    Scale shape: the sort is ONE range-partitioned exchange over the
    key (Spark samples split points, so output partitions are balanced
    regardless of id distribution), and writers downstream consume an
    already-globally-ordered stream. Never use rand() for this: its
    order changes with partitioning, retries, and speculative tasks."""
    key = F.md5(
        F.concat(F.lit(salt), F.coalesce(F.col(id_col).cast("string"), F.lit("")))
    )
    return df.withColumn(out_col, key).orderBy(out_col, id_col)


def corpus_profile(
    df: DataFrame,
    text_col: str = "text",
    group_col: str = "source",
    quantiles: Sequence[float] = (0.5, 0.9, 0.99),
) -> DataFrame:
    """Per-group corpus profile for pipeline observability: document
    count, token totals, mean, and EXACT continuous-interpolation
    token-count percentiles (the numbers a data card or mixing plan
    quotes). One projection + one aggregate.

    Scale note: Spark's exact ``percentile`` buffers a value->count map
    per group, so memory is bounded by the number of DISTINCT token
    counts (~max document length, not corpus size) — safe even at 100 TB
    because the token-count domain is small and integral. For unbounded
    or real-valued domains use ``percentile_approx`` instead; here
    exactness buys engine-portable, oracle-checkable output. NULL text
    counts as 0 tokens (same policy as length_bucket_stats)."""
    n = F.when(F.col(text_col).isNull(), F.lit(0)).otherwise(
        token_count_col(F.col(text_col))
    ).cast("long")
    pct = F.percentile(F.col("_n"), F.lit(list(quantiles)))
    # int() would truncate binary-float error (0.29*100 -> 28); round,
    # and refuse silent column collisions between close quantiles
    names = [f"p{round(q * 100):g}_tokens" for q in quantiles]
    if len(set(names)) != len(names):
        raise ValueError(f"quantiles collide in column names: {names}")
    qcols = [
        F.round(pct[i], 6).alias(name) for i, name in enumerate(names)
    ]
    return (
        df.select(F.col(group_col).alias(group_col), n.alias("_n"))
        .groupBy(group_col)
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("_n").alias("total_tokens"),
            F.round(F.avg("_n"), 6).alias("mean_tokens"),
            *qcols,
            F.max("_n").alias("max_tokens"),
        )
    )


# Markup-strip patterns, written to the RE2 ∩ java.util.regex common
# subset (same portability stance as the PII regexes): no backreferences
# (RE2 lacks them — script/style each get their own pattern), lazy
# quantifiers + inline (?is) flags only.
HTML_SCRIPT_REGEX = r"(?is)<script\b[^>]*>.*?</script\s*>"
HTML_STYLE_REGEX = r"(?is)<style\b[^>]*>.*?</style\s*>"
HTML_COMMENT_REGEX = r"(?s)<!--.*?-->"
HTML_TAG_REGEX = r"(?s)<[^>]*>"
# fixed entity table, decoded LAST for &amp; so "&amp;lt;" ends as "&lt;"
# (one decode pass, not recursive — html.unescape parity for the common
# entities without a Python UDF in the scan path)
HTML_ENTITIES = [
    ("&lt;", "<"), ("&gt;", ">"), ("&quot;", '"'),
    ("&apos;", "'"), ("&#39;", "'"), ("&nbsp;", " "), ("&amp;", "&"),
]


def clean_text_col(col: Column) -> Column:
    """Markup-stripped, entity-decoded, whitespace-collapsed text — the
    classic web-corpus cleaning stage (script/style bodies dropped,
    comments and tags removed, common entities decoded, runs of
    whitespace collapsed to one space, trimmed). Pure codegen
    regexp_replace chain: no shuffle, no UDF, scan-parallel at any
    size."""
    x = F.regexp_replace(col, HTML_SCRIPT_REGEX, " ")
    x = F.regexp_replace(x, HTML_STYLE_REGEX, " ")
    x = F.regexp_replace(x, HTML_COMMENT_REGEX, " ")
    x = F.regexp_replace(x, HTML_TAG_REGEX, " ")
    for ent, rep in HTML_ENTITIES:
        x = F.replace(x, F.lit(ent), F.lit(rep))
    return F.trim(F.regexp_replace(x, r"\s+", " "))


def clean_text(
    df: DataFrame, text_col: str = "text", out_col: str = "text_clean"
) -> DataFrame:
    """Adds ``out_col`` = cleaned ``text_col`` (see clean_text_col) and
    ``n_chars_removed`` = character count delta — the observability
    number a cleaning stage reports."""
    col = F.col(text_col)
    return df.withColumn(out_col, clean_text_col(col)).withColumn(
        "n_chars_removed",
        (F.coalesce(F.length(col), F.lit(0))
         - F.coalesce(F.length(F.col(out_col)), F.lit(0))).cast("bigint"),
    )


def dedup_lines_col(col: Column, sep: str = "\n") -> Column:
    """Order-preserving within-document line dedup: keep each line's FIRST
    occurrence, drop later repeats — the boilerplate-line cleaning stage
    (nav bars, cookie banners, repeated headers) of web-corpus pipelines.
    EMPTY lines always survive — they are paragraph structure, not
    boilerplate. Pure codegen higher-order functions, O(L log L) PER
    DOCUMENT: tag each line with its position, array_sort by (line, pos),
    detect run heads by comparing each sorted element to its predecessor
    (zip_with against the 1-shifted array — NEVER element_at(sorted, i)
    inside a lambda, which would re-evaluate the sort per element), then
    restore document order by re-sorting survivors on position. Document-
    local work that stays scan-parallel at any corpus size (no shuffle,
    no UDF); the old array_position first-occurrence scan was O(L^2) —
    10^10 comparisons on one core for a 100k-line document. NULL text ->
    NULL. ``sep`` is a LITERAL separator (quoted with \\Q..\\E for the
    split regex so '|', '.', '+' etc. work; the rejoin uses it
    verbatim)."""
    lines = F.split(col, "\\Q" + sep + "\\E")
    tagged = F.transform(
        lines, lambda x, i: F.struct(x.alias("l"), i.alias("p"))
    )
    srt = F.array_sort(tagged)
    # predecessor-aligned copy: [null, srt[0], ..., srt[L-2]]
    prev = F.concat(
        F.array(F.lit(None).cast("struct<l:string,p:int>")),
        F.slice(srt, 1, F.size(srt) - 1),
    )
    marked = F.zip_with(
        srt,
        prev,
        lambda c, p: F.when(
            (c["l"] == F.lit("")) | p.isNull() | (c["l"] != p["l"]), c
        ),
    )
    kept = F.array_sort(
        F.transform(
            F.filter(marked, lambda s: s.isNotNull()),
            lambda s: F.struct(s["p"].alias("p"), s["l"].alias("l")),
        )
    )
    return F.array_join(F.transform(kept, lambda s: s["l"]), sep)


def dedup_lines(
    df: DataFrame, text_col: str = "text", out_col: str = "text_deduped"
) -> DataFrame:
    """Adds ``out_col`` = line-deduped ``text_col`` (see dedup_lines_col)
    and ``n_lines_removed`` = dropped-line count (0 for NULL text)."""
    col = F.col(text_col)
    deduped = dedup_lines_col(col)
    n_before = F.size(F.split(col, "\n"))
    n_after = F.size(F.split(F.col(out_col), "\n"))
    return df.withColumn(out_col, deduped).withColumn(
        "n_lines_removed",
        F.coalesce(
            (n_before - n_after).cast("bigint"), F.lit(0).cast("bigint")
        ),
    )


def normalize_text(
    df: DataFrame,
    text_col: str = "text",
    out_col: str = "text_nfc",
    form: str = "NFC",
) -> DataFrame:
    """Unicode normalization (NFC/NFKC/NFD/NFKD) — the canonicalization
    stage that must run BEFORE any hash-based dedup, or visually
    identical strings with different codepoint sequences (e.g. precomposed
    é vs e + combining acute) hash apart and duplicates survive.

    Arrow-batched pandas UDF over Python's unicodedata (Spark has no
    built-in normalizer); stateless projection, scan-parallel. DuckDB's
    nfc_normalize mirrors the NFC form for the oracle — both implement
    the Unicode canonical-composition algorithm, so they agree wherever
    the engines' Unicode tables do (all assigned codepoints in
    practice). Adds ``changed`` = whether normalization altered the
    string (NULL text -> NULL, changed false)."""
    if form not in ("NFC", "NFKC", "NFD", "NFKD"):
        raise ValueError(f"form must be NFC/NFKC/NFD/NFKD, got {form!r}")

    def _norm(texts: pd.Series) -> pd.Series:
        import unicodedata

        return texts.map(
            lambda t: None if t is None else unicodedata.normalize(form, t)
        )

    norm_udf = F.pandas_udf(_norm, T.StringType())
    col = F.col(text_col)
    return df.withColumn(out_col, norm_udf(col)).withColumn(
        "changed",
        F.when(col.isNull(), F.lit(False)).otherwise(
            col != F.col(out_col)
        ),
    )


def remove_frequent_lines(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    out_col: str = "text_deboiled",
    min_docs: int = 2,
    sep: str = "\n",
) -> DataFrame:
    """CORPUS-wide boilerplate-line removal (the C4/RefinedWeb cleaning
    stage next to the within-document ``dedup_lines``): any line that
    appears in >= ``min_docs`` DISTINCT documents is removed from EVERY
    document (all occurrences — a corpus-frequent line is template
    chrome, not content). BLANK lines never ban (they are paragraph
    structure and would otherwise match across every document); blank =
    nothing but ASCII space/tab/CR/FF — an explicit character class so
    every engine's oracle agrees (NBSP and other Unicode spaces count as
    content; trim()-based blankness differs between engines).
    Line matching is exact; run ``normalize_text`` first if the corpus
    mixes Unicode forms. NULL text stays NULL with 0 removed; a document
    whose every line bans comes back as ''.

    Scale shape: one exploded (id, line) frame persisted and shared by
    both consumers; line doc-frequency is a map-side-combinable two-phase
    distinct aggregation keyed on the line (never a window — hot
    boilerplate lines collapse map-side); the banned set joins back LEFT
    SEMI and gathers into one small per-document array, and the final
    per-document HOF filter is order-preserving pure codegen, so no
    positional re-sort or reassembly shuffle is needed. Three keyed
    shuffles total, output rows = input rows; nothing is all-pairs and
    no per-task buffer exceeds one document's banned-line set. ``sep``
    is a LITERAL separator (\\Q..\\E-quoted for the split regex), like
    dedup_lines."""
    from spark_xml_spark.operators.dedup import (
        _persist_intermediate,
        _retire_intermediates,
    )

    clash = {"_id", "_ban", "n_lines_removed"}.intersection(df.columns)
    if clash:
        raise ValueError(
            f"input columns {sorted(clash)} collide with "
            "remove_frequent_lines internals/outputs; rename them first"
        )
    _retire_intermediates("remove_frequent_lines")  # own previous call only
    split_pat = "\\Q" + sep + "\\E"
    col = F.col(text_col)
    lines = _persist_intermediate(
        df.select(
            F.col(id_col).alias("_id"),
            F.explode(F.split(col, split_pat)).alias("_line"),
        ).filter(F.col("_line").rlike("[^ \\t\\r\\f]")),
        "remove_frequent_lines",
    )
    banned = (
        lines.groupBy("_line")
        .agg(F.countDistinct("_id").alias("_docs"))
        .filter(F.col("_docs") >= F.lit(min_docs))
        .select("_line")
    )
    doc_ban = (
        lines.join(banned, "_line", "left_semi")
        .groupBy("_id")
        .agg(F.collect_set("_line").alias("_ban"))
    )
    split_lines = F.split(col, split_pat)
    kept = F.filter(
        split_lines,
        lambda x: F.coalesce(~F.array_contains(F.col("_ban"), x), F.lit(True)),
    )
    # one withColumns call: both outputs evaluate against the PRE-update
    # frame, so out_col == text_col (in-place cleaning) still counts
    # removals from the original text
    out = (
        df.join(doc_ban, df[id_col] == doc_ban["_id"], "left")
        .withColumns(
            {
                out_col: F.when(
                    col.isNull(), F.lit(None).cast("string")
                ).otherwise(F.array_join(kept, sep)),
                "n_lines_removed": F.when(col.isNull(), F.lit(0))
                .otherwise(F.size(split_lines) - F.size(kept))
                .cast("bigint"),
            }
        )
        .drop("_id", "_ban")
    )
    return out


def percentile_filter(
    df: DataFrame,
    value_col: str,
    group_col: Optional[str] = None,
    lo: float = 0.05,
    hi: float = 0.95,
) -> DataFrame:
    """Statistical outlier filter: keep rows whose ``value_col`` lies
    within the [``lo``, ``hi``] interpolated-percentile band of their
    ``group_col`` group (corpus-wide when group_col is None) — the
    winsorizing length/quality filter of web-corpus pipelines (truncated
    docs and concatenation blowups live in the tails). NULL values never
    survive (their band membership is unknowable); a NULL group is a
    group like any other (null-safe join-back) — its rows filter against
    their own band.

    Scale shape: one map-side-combinable aggregation computes the two
    exact interpolated percentiles per group (buffer bounded by DISTINCT
    values per group — fine for integral signals like lengths; use
    percentile_approx for real-valued domains), then the O(groups)
    bounds frame broadcast-joins back and the band test is a pushable
    filter. No window, no sort, no second shuffle."""
    if not 0.0 <= lo <= hi <= 1.0:
        raise ValueError(f"need 0 <= lo <= hi <= 1, got {lo}, {hi}")
    clash = {"_p", "_pf_grp"}.intersection(df.columns)
    if clash:
        raise ValueError(
            f"input columns {sorted(clash)} collide with percentile_filter "
            "internals; rename them first"
        )
    v = F.col(value_col)
    pct = F.percentile(v, F.lit([float(lo), float(hi)]))
    if group_col is None:
        bounds = df.select(pct.alias("_p"))
        joined = df.crossJoin(F.broadcast(bounds))
    else:
        # null-safe join-back: a NULL group gets a band too (its rows
        # would otherwise silently vanish on the equality join)
        bounds = (
            df.groupBy(group_col)
            .agg(pct.alias("_p"))
            .withColumnRenamed(group_col, "_pf_grp")
        )
        joined = df.join(
            F.broadcast(bounds),
            F.col(group_col).eqNullSafe(F.col("_pf_grp")),
        ).drop("_pf_grp")
    return (
        joined.filter(
            (v >= F.col("_p")[0]) & (v <= F.col("_p")[1])
        ).drop("_p")
    )
