"""Text-analysis operators for large-scale document pipelines.

All operators are pure DataFrame compositions (JVM-side, whole-stage
codegen'd) — no Python UDFs in any hot path.  Tokenization is a simple
whitespace split; hash functions are md5-derived so an external SQL oracle
can reproduce them exactly.

Scale notes: every operator is a select/explode/groupBy pipeline — shuffles
are on (lang, token) or doc_id keys which are well-distributed; per-doc
operators are embarrassingly parallel projections.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

DEFAULT_STOPWORDS = ("the", "a", "of", "and")


def tokens_col(text_col: str = "text"):
    """Whitespace tokenization as a Spark column expression."""
    return F.split(F.col(text_col), " ")


def with_token_stats(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Add n_tokens / n_chars / mean_token_len columns (per document)."""
    toks = tokens_col(text_col)
    n_tokens = F.size(toks)
    n_chars = F.length(F.col(text_col))
    return (
        df.withColumn("n_tokens", n_tokens.cast("long"))
        .withColumn("doc_chars", n_chars.cast("long"))
        .withColumn(
            "mean_token_len",
            ((n_chars - (n_tokens - F.lit(1))).cast("double") / n_tokens.cast("double")),
        )
    )


def with_quality_score(
    df: DataFrame, text_col: str = "text", stopwords: Sequence[str] = DEFAULT_STOPWORDS
) -> DataFrame:
    """Quality signals: stopword ratio + token stats (per document).

    A high stopword ratio signals natural-language text; near-zero signals
    boilerplate/garbage — the standard cheap quality heuristic for pretraining
    corpora.
    """
    stop_array = F.array(*[F.lit(s) for s in stopwords])
    toks = tokens_col(text_col)
    n_stop = F.size(F.filter(toks, lambda t: F.array_contains(stop_array, t)))
    out = with_token_stats(df, text_col)
    return out.withColumn(
        "stop_ratio", n_stop.cast("double") / F.col("n_tokens").cast("double")
    )


def token_frequencies(
    df: DataFrame, group_col: str = "lang", text_col: str = "text"
) -> DataFrame:
    """(group, token, cnt) frequencies — explode + partial-agg groupBy."""
    return (
        df.select(F.col(group_col), F.explode(tokens_col(text_col)).alias("token"))
        .groupBy(group_col, "token")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def top_k_by_count(
    df: DataFrame,
    group_cols,
    count_col: str,
    tiebreak_col: str,
    k: int,
    rank_col: str = "rk",
) -> DataFrame:
    """Top-k rows per group by (count DESC, tiebreak ASC) — sharded.

    The one spelling of the descending two-phase idiom (negate the count
    so ``sampling.topk_per_group``'s ascending order ranks it, rename the
    rank), shared by every vocabulary-scale top-n so the pattern can't
    drift between call sites.  Not a per-group rank window: the group is
    data-scaled (billions of distinct tokens per language at 100 TB) and
    a window would sort a whole vocabulary in one task.
    """
    from .sampling import topk_per_group

    out = topk_per_group(
        df.withColumn("_neg_cnt", -F.col(count_col)),
        list(group_cols),
        ["_neg_cnt", tiebreak_col],
        k,
    )
    return out.withColumn(rank_col, F.col("sample_rank").cast("int")).drop(
        "_neg_cnt", "sample_rank"
    )


def top_tokens(
    df: DataFrame, group_col: str = "lang", text_col: str = "text", k: int = 5
) -> DataFrame:
    """Top-k tokens per group, deterministic ties (cnt desc, token asc)."""
    return top_k_by_count(
        token_frequencies(df, group_col, text_col), [group_col], "cnt",
        "token", k,
    )


def classify_by_token_profile(
    df: DataFrame,
    id_col: str = "doc_id",
    label_col: str = "lang",
    text_col: str = "text",
    profile_size: int = 10,
    train_df: DataFrame = None,
) -> DataFrame:
    """Language-ID by token-profile overlap (n-gram-heuristic LID).

    Learns a per-label profile (top-N tokens) from ``train_df`` (default:
    the corpus itself), then assigns each document of ``df`` the label
    whose profile overlaps its distinct token set the most (ties: label
    asc).  Returns (id, pred, score).  Pass a held-out ``df`` with
    profiles from ``train_df`` for an honest evaluation (the
    langid_holdout_confusion entry).

    The profile is tiny (labels × N rows) → broadcast join against the
    exploded token set; the only shuffle is the per-doc score aggregation.
    """
    profile = top_tokens(
        train_df if train_df is not None else df, label_col, text_col,
        k=profile_size,
    ).select(
        F.col(label_col).alias("__plabel"), "token"
    )
    doc_tokens = df.select(
        F.col(id_col), F.explode(F.array_distinct(tokens_col(text_col))).alias("token")
    )
    scores = (
        doc_tokens.join(F.broadcast(profile), "token")
        .groupBy(id_col, "__plabel")
        .agg(F.count(F.lit(1)).alias("score"))
    )
    # argmax as an aggregate (map-side combinable, no per-doc sort): min of
    # (-score, label) = highest score, then lexicographically first label —
    # identical tie-break to the rank formulation
    best = F.min_by(
        F.struct(F.col("__plabel"), F.col("score")),
        F.struct(-F.col("score"), F.col("__plabel")),
    ).alias("_b")
    return (
        scores.groupBy(id_col)
        .agg(best)
        .select(
            F.col(id_col),
            F.col("_b.__plabel").alias("pred"),
            F.col("_b.score").alias("score"),
        )
    )


def tfidf_top_terms(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
) -> DataFrame:
    """Top-k most characteristic terms per document by tf-idf ordering.

    Ranks each document's terms by (term frequency desc, document
    frequency asc, term asc) — the same ordering tf·idf induces for any
    monotone idf, expressed entirely in integer arithmetic so a SQL
    oracle reproduces it bit-for-bit (no float log()).

    Plan shape: explode → two partial-aggregated groupBys (tf keyed by
    (doc, term), df keyed by term) → broadcast-friendly join on term →
    per-doc window.  The df table is |vocabulary| rows — small relative
    to the corpus — so Catalyst/AQE broadcasts it.
    """
    toks = df.select(
        F.col(id_col), F.explode(tokens_col(text_col)).alias("token")
    ).filter(F.col("token") != "")
    tf = toks.groupBy(id_col, "token").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = toks.groupBy("token").agg(
        F.countDistinct(id_col).alias("df")
    )
    w = Window.partitionBy(id_col).orderBy(
        F.col("tf").desc(), F.col("df").asc(), F.col("token").asc()
    )
    return (
        tf.join(dfreq, "token")
        .withColumn("rk", F.row_number().over(w).cast("int"))
        .filter(F.col("rk") <= k)
        .select(id_col, "token", "tf", "df", "rk")
    )


def token_rarity_scores(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    rare_threshold: int = 3,
) -> DataFrame:
    """Unigram-LM quality proxy in exact integer arithmetic.

    A document full of tokens the corpus has barely seen is either novel or
    garbage — in either case it is the document a quality-filtering pass
    wants ranked for review.  The classic signal is unigram perplexity
    (sum of -log p(token)); summing float logs is summation-order dependent
    and kills cross-engine value parity, so this computes the integer
    sufficient statistics instead: per document,

    - ``freq_mass``  = Σ corpus_count(token) over the doc's token stream —
      high = stereotyped text, low = rare vocabulary (monotone inverse of
      the geometric-mean-frequency perplexity proxy);
    - ``n_rare``     = tokens whose corpus count ≤ ``rare_threshold``;
    - ``n_tokens``   = total tokens.

    Plan: one explode → corpus-count groupBy (|vocab| rows, partial-agg) →
    broadcast-friendly join back to the exploded stream → per-doc sum.
    Both groupBys are map-side combined; the vocabulary table is the only
    broadcast, so the corpus scans exactly twice and never joins row×row.
    """
    toks = df.select(
        F.col(id_col), F.explode(tokens_col(text_col)).alias("token")
    ).filter(F.col("token") != "")
    vocab = toks.groupBy("token").agg(F.count(F.lit(1)).alias("corpus_cnt"))
    return (
        toks.join(vocab, "token")
        .groupBy(id_col)
        .agg(
            F.sum("corpus_cnt").alias("freq_mass"),
            F.sum(
                F.when(F.col("corpus_cnt") <= rare_threshold, 1).otherwise(0)
            ).cast("long").alias("n_rare"),
            F.count(F.lit(1)).alias("n_tokens"),
        )
    )


def chunk_overlapping(
    df: DataFrame,
    text_col: str = "text",
    size: int = 120,
    overlap: int = 20,
) -> DataFrame:
    """Split text into fixed-size character windows with overlap (RAG prep).

    Chunk i covers [i·step, i·step + size) with step = size - overlap;
    n_chunks = max(1, ceil((len - overlap) / step)) so every character is
    covered and a doc shorter than ``size`` still yields one chunk.  Pure
    JVM expression — ``sequence`` + ``explode`` + ``substring`` — so the
    explode is whole-stage-codegen'd and the operator is map-only (no
    shuffle); the deterministic boundary arithmetic is recomputable by any
    SQL engine.  Output keeps all input columns plus (chunk_id, chunk).
    """
    if overlap >= size:
        raise ValueError(f"overlap {overlap} must be < size {size}")
    step = size - overlap
    length = F.length(F.col(text_col))
    n_chunks = F.greatest(
        F.lit(1),
        F.ceil((length - F.lit(overlap)).cast("double") / F.lit(float(step))),
    ).cast("int")
    return (
        df.withColumn("chunk_id", F.explode(F.sequence(F.lit(0), n_chunks - 1)))
        .withColumn(
            "chunk",
            F.substring(F.col(text_col), F.col("chunk_id") * step + 1, size),
        )
    )


def chunk_paragraph_aware(
    df: DataFrame,
    text_col: str = "text",
    max_chars: int = 240,
) -> DataFrame:
    """Greedy paragraph packing: split on blank lines, pack consecutive
    paragraphs into chunks of at most ``max_chars`` (a paragraph longer
    than the budget gets its own chunk rather than being split mid-way).

    The greedy state machine runs INSIDE a JVM higher-order ``aggregate``
    — the accumulator carries (chunk_id, chars_used) and each paragraph
    either extends the current chunk or opens the next — so the operator
    stays map-only whole-stage-codegen with zero Python, unlike the usual
    UDF formulation of sequential packing.  Output keeps input columns
    plus (chunk_id, chunk); paragraph boundaries are never broken, the
    semantic-coherence upgrade over the fixed-window
    :func:`chunk_overlapping`.
    """
    if max_chars < 1:
        raise ValueError(f"max_chars must be >= 1, got {max_chars}")
    paras = F.filter(
        F.transform(
            F.split(F.col(text_col), r"\n\s*\n"), lambda p: F.trim(p)
        ),
        lambda p: p != "",
    )
    # state: array of structs (para, chunk_id); fold left assigning ids
    assigned = F.aggregate(
        paras,
        F.struct(
            F.lit(-1).alias("cid"),
            F.lit(0).alias("used"),
            F.array().cast("array<struct<para:string,cid:int>>").alias("out"),
        ),
        lambda acc, p: F.when(
            # +1 for the joining newline when the chunk is non-empty
            (acc["used"] > 0)
            & (acc["used"] + 1 + F.length(p) <= F.lit(max_chars)),
            F.struct(
                acc["cid"].alias("cid"),
                (acc["used"] + 1 + F.length(p)).cast("int").alias("used"),
                F.concat(
                    acc["out"],
                    F.array(F.struct(p.alias("para"), acc["cid"].alias("cid"))),
                ).alias("out"),
            ),
        ).otherwise(
            F.struct(
                (acc["cid"] + 1).alias("cid"),
                F.length(p).cast("int").alias("used"),
                F.concat(
                    acc["out"],
                    F.array(
                        F.struct(p.alias("para"), (acc["cid"] + 1).alias("cid"))
                    ),
                ).alias("out"),
            )
        ),
        lambda acc: acc["out"],
    )
    # Chunks are assembled ROW-LOCALLY (filter + transform over the
    # assigned array per chunk id), never via a groupBy over the input
    # columns: grouping by input columns would collapse duplicate rows and
    # interleave their paragraphs, and a shuffle would be pure waste for a
    # per-document computation.  The whole operator stays map-only.
    # A document with no non-empty paragraphs yields zero chunks.
    # try_element_at: NULL (not INVALID_ARRAY_INDEX) on the empty array, so
    # the operator behaves identically under spark.sql.ansi.enabled=true
    # (Spark 4.x default) — sequence(0, NULL) is NULL, posexplode drops it.
    max_cid = F.try_element_at(assigned, F.lit(-1))["cid"]
    chunks = F.transform(
        F.sequence(F.lit(0), max_cid),
        lambda cid: F.concat_ws(
            "\n",
            F.transform(
                F.filter(assigned, lambda s: s["cid"] == cid),
                lambda s: s["para"],
            ),
        ),
    )
    return df.select(
        *df.columns, F.posexplode(chunks).alias("chunk_id", "chunk")
    )
