"""Deduplication operators: exact, MinHash+LSH, SimHash, n-gram Jaccard.

Hash functions are md5-derived (``md5 hex → first 15 hex digits → int64``)
so results are engine-independent and reproducible by a SQL oracle.

Scale notes:
- Exact dedup is one partial-aggregated groupBy on the fingerprint.
- MinHash signatures: explode distinct tokens → groupBy(doc) with k ``min``
  aggregates (map-side combine shrinks the shuffle to one row per doc).
- LSH banding turns the O(n²) pair problem into a self-join on band keys —
  the join key space grows with corpus size, so the shuffle stays balanced;
  candidate verification (exact Jaccard) runs only within buckets.
- SimHash: explode(tokens) × explode(bit positions) is a flat map; the
  aggregation is keyed by doc_id.  At 100 TB each stage is shuffle-bounded by
  rows-per-doc, never by pairwise blowup.
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.column import Column
from pyspark.sql.window import Window

from .text import tokens_col

def hash64(col: Column) -> Column:
    """Deterministic 60-bit positive int hash of a string column.

    Mirrors the SQL-oracle expression
    ``('0x' || substr(md5(x), 1, 15))::BIGINT``.
    """
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


def shingles_col(text_col: str = "text", n: int = 3) -> Column:
    """Word n-gram shingles of a whitespace-tokenized text column.

    Shingling (vs raw tokens) is what makes MinHash discriminative on
    natural text: the shingle space is |vocab|^n, so unrelated documents
    share almost none even when they share most of their vocabulary.

    Documents shorter than ``n`` tokens yield an EMPTY shingle set —
    ``slice`` with a non-positive length (via ``greatest(m, 0)``) returns an
    empty array, so short/empty/null docs pass through harmlessly.

    Implementation note: the shingle list is built by zipping ``n`` shifted
    slices of the token array (``zip_with`` pairwise concat), NOT by a
    ``transform`` over an index sequence.  Higher-order-function lambdas are
    evaluated interpreted, per element — an earlier version that called
    ``element_at(split(text), i+k)`` inside the lambda re-ran ``split`` for
    every element, making shingling O(tokens²·chars) per document (measured
    6–10× slower on long documents).  The slice/zip form evaluates ``split``
    a constant number of times per row.
    """
    toks = F.split(F.col(text_col), " ")
    m = F.size(toks) - (n - 1)
    z = F.slice(toks, 1, F.greatest(m, F.lit(0)))
    for k in range(1, n):
        z = F.zip_with(
            z,
            F.slice(toks, 1 + k, F.greatest(m, F.lit(0))),
            lambda a, b: F.concat_ws(" ", a, b),
        )
    return z


def doc_shingles(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text", n: int = 3
) -> DataFrame:
    """Distinct (id, shingle) pairs."""
    return df.select(
        F.col(id_col), F.explode(F.array_distinct(shingles_col(text_col, n))).alias("shingle")
    )


def doc_shingle_hashes(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text", n: int = 3
) -> DataFrame:
    """Distinct (id, h) pairs — shingles reduced to 60-bit md5 hashes.

    The scale-path representation of the shingle set: each distinct shingle
    string is md5-hashed exactly once here, so every downstream pass
    (signature build, Jaccard verification) shuffles and compares 8-byte
    longs instead of multi-word strings.  Set semantics are preserved up to
    md5 collisions (~|shingles|²/2^61 — negligible even at 100 TB per-doc
    set sizes, and a collision only perturbs one Jaccard estimate).
    """
    sh = df.select(
        F.col(id_col),
        F.explode(F.array_distinct(shingles_col(text_col, n))).alias("shingle"),
    )
    return sh.select(F.col(id_col), hash64(F.col("shingle")).alias("h"))


def exact_duplicates(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text", prefix_len: int = 0
) -> DataFrame:
    """Exact (or prefix-) duplicate groups: (fingerprint, dup_count, keep_id).

    ``keep_id`` is the minimum id in the group — the canonical survivor.
    """
    base = F.col(text_col) if prefix_len <= 0 else F.substring(F.col(text_col), 1, prefix_len)
    return (
        df.select(F.md5(base).alias("fingerprint"), F.col(id_col))
        .groupBy("fingerprint")
        .agg(F.count(F.lit(1)).alias("dup_count"), F.min(id_col).alias("keep_id"))
        .filter(F.col("dup_count") > 1)
    )


MERSENNE31 = 2147483647  # 2^31 - 1


def minhash_params(num_hashes: int):
    """Deterministic (a, b) pairs for the universal-hash family.

    a < 2^31 keeps a*h32 < 2^63 — no overflow in either engine's BIGINT.
    """
    out = []
    for i in range(num_hashes):
        a = (2654435761 * (i + 1)) % MERSENNE31
        b = (40503 * (i + 7) + 1) % MERSENNE31
        out.append((a or 1, b))
    return out


def minhash_signatures(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 8,
    shingle_size: int = 3,
) -> DataFrame:
    """MinHash signature per document: columns mh0..mh{k-1}.

    Each distinct shingle is md5-hashed ONCE (the expensive part), then the
    k hash functions are the universal family h_i = (a_i*h + b_i) mod 2^31-1
    — pure integer arithmetic, so the per-row cost is O(1) md5 regardless of
    k.  signature_i = min over the document's distinct word-shingles.
    """
    sh = doc_shingles(df, id_col, text_col, shingle_size)
    return minhash_signatures_from_shingles(sh, id_col, num_hashes)


def minhash_signatures_from_shingles(
    shingles: DataFrame, id_col: str = "doc_id", num_hashes: int = 8
) -> DataFrame:
    hashes = shingles.select(F.col(id_col), hash64(F.col("shingle")).alias("h"))
    return minhash_signatures_from_hashes(hashes, id_col, num_hashes)


def minhash_signatures_from_hashes(
    hashes: DataFrame, id_col: str = "doc_id", num_hashes: int = 8
) -> DataFrame:
    base = hashes.select(
        F.col(id_col), F.col("h").bitwiseAND(F.lit(4294967295)).alias("h32")
    )
    aggs = [
        F.min((F.lit(a) * F.col("h32") + F.lit(b)) % F.lit(MERSENNE31)).alias(f"mh{i}")
        for i, (a, b) in enumerate(minhash_params(num_hashes))
    ]
    return base.groupBy(id_col).agg(*aggs)


def lsh_candidate_pairs(
    signatures: DataFrame,
    id_col: str = "doc_id",
    num_hashes: int = 8,
    rows_per_band: int = 2,
) -> DataFrame:
    """Candidate pairs (id_a < id_b) sharing at least one LSH band.

    Banding is a single posexplode projection (NOT a union of per-band
    selects — a union would re-evaluate the signature pipeline once per band
    per join side).

    The band key is a STRUCT of the band's signature longs, not a string
    concat (r13, guide §2.3 "shuffle fewer bytes / narrower types"): the
    key is purely internal — only ever joined/grouped on — so its
    representation is free as long as key equality is unchanged, which a
    struct of the same longs preserves exactly (candidate sets verified
    identical, scripts/minhash_bandkey_ab.py).  A struct row is
    rows_per_band fixed 8-byte longs with no per-row decimal rendering;
    the old concat_ws shuffled ~20-char strings and paid the long->string
    render per signature cell.  Local sf0.1 delta is noise-level; the
    per-byte and per-render argument is what scales.
    """
    bands = num_hashes // rows_per_band
    band_keys = F.array(
        *[
            F.struct(
                *[
                    F.col(f"mh{b * rows_per_band + r}").alias(f"k{r}")
                    for r in range(rows_per_band)
                ]
            )
            for b in range(bands)
        ]
    )
    band_rows = signatures.select(
        F.col(id_col), F.posexplode(band_keys).alias("band", "band_key")
    )
    left = band_rows.select(
        F.col(id_col).alias("id_a"), F.col("band"), F.col("band_key")
    )
    right = band_rows.select(
        F.col(id_col).alias("id_b"), F.col("band"), F.col("band_key")
    )
    return (
        left.join(right, ["band", "band_key"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )


def jaccard_from_shingles(
    toks: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    key_col: str = "shingle",
    broadcast_sets="auto",
    elems_upper_bound: Optional[int] = None,
) -> DataFrame:
    """Exact Jaccard for candidate pairs over a (id, key) element table.

    Candidate participants are a vanishing fraction of the corpus, so the
    element table is first semi-filtered to pair ids (broadcast of the
    distinct ids) and collapsed to one shingle-set array per participating
    document.  The intersection is then computed ROW-LOCALLY with
    ``array_intersect`` after two id-equi-joins — |pairs| rows through the
    joins instead of the |pairs| × |avg set| row explosion a
    join-and-count intersection shuffles (measured 8.6 s → sub-second on
    310k candidate pairs).  Per-row arrays are one document's distinct
    shingles (thousands at most) — far under any practical row limit.

    ``broadcast_sets=True`` additionally broadcasts the collapsed set table
    into both pair joins, replacing two sort-merge exchanges (measured ~2×
    on the verification stage).  Size model: participants × avg-set × 8 B
    must pass through the driver (``spark.driver.maxResultSize``) and fit an
    executor — a duplication-heavy 4M-doc corpus measured 1.07 GiB of
    serialized set rows, which kills the job against the 1 GiB default
    maxResultSize when broadcast is forced.  The default ``"auto"`` decides
    from data, in two tiers:

    1. **Free fast path**: when the caller passes ``elems_upper_bound``
       (the total element-table row count — the minhash caller already has
       it from its materialization count), and that worst case fits the
       broadcast budget, broadcast immediately with zero extra jobs.
    2. **Measured path**: otherwise persist the candidate pairs and run ONE
       sizing aggregate over the semi-filtered element table (scans hit the
       already-materialized shingle cache/parquet), then broadcast only if
       the measured participants/elements fit.  Above the limits the join
       stays sort-merge and AQE re-plans from runtime stats — measured
       FASTER than the giant broadcast from 2M docs up (111.9 s vs 154.6 s)
       and the only correct option at 4M.
    """
    _BYTES_PER_ELEM = 10  # 8 B hash + array overhead, amortized
    _SETS_BCAST_LIMIT = 300 << 20
    _IDS_BCAST_LIMIT = 100 << 20

    auto = broadcast_sets == "auto"
    # Fast path uses a tighter budget than the measured path: the bound also
    # caps the id list (ids ≤ docs ≤ element rows), and real shingle sets
    # are tens of elements per doc, so a 200 MB element bound keeps the id
    # broadcast far below its own limit without a second count.
    fast_small = (
        auto
        and elems_upper_bound is not None
        and elems_upper_bound * _BYTES_PER_ELEM < 200 << 20
    )
    if auto and not fast_small:
        # the sizing aggregate executes the candidate join; persist so the
        # final pair joins reuse it instead of re-running the LSH self-join
        pairs = pairs.persist()
    ids = (
        pairs.select(F.col("id_a").alias(id_col))
        .union(pairs.select(F.col("id_b").alias(id_col)))
        .distinct()
    )
    if auto and not fast_small:
        ids = ids.persist()
        stats = (
            toks.join(ids, id_col)
            .agg(
                F.count(F.lit(1)).alias("n_elems"),
                F.count_distinct(id_col).alias("n_participants"),
            )
            .first()
        )
        bcast_ids = stats["n_participants"] * 24 < _IDS_BCAST_LIMIT
        id_filter = F.broadcast(ids) if bcast_ids else ids
        do_broadcast = stats["n_elems"] * _BYTES_PER_ELEM < _SETS_BCAST_LIMIT
    else:
        id_filter = F.broadcast(ids)
        do_broadcast = True if fast_small else bool(broadcast_sets)
    sets = (
        toks.join(id_filter, id_col)
        .groupBy(id_col)
        .agg(F.collect_list(key_col).alias("elems"))
    )
    if do_broadcast:
        sets = F.broadcast(sets)
    sa = sets.select(F.col(id_col).alias("id_a"), F.col("elems").alias("elems_a"))
    sb = sets.select(F.col(id_col).alias("id_b"), F.col("elems").alias("elems_b"))
    inter = F.size(F.array_intersect("elems_a", "elems_b"))
    size_a = F.size("elems_a")
    size_b = F.size("elems_b")
    return (
        pairs.join(sa, "id_a")
        .join(sb, "id_b")
        .select(
            "id_a",
            "id_b",
            (
                inter.cast("double")
                / (size_a + size_b - inter).cast("double")
            ).alias("jaccard"),
        )
    )


def minhash_dedup_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 8,
    rows_per_band: int = 2,
    threshold: float = 0.5,
    shingle_size: int = 3,
    materialize_dir: Optional[str] = None,
) -> DataFrame:
    """Full MinHash+LSH near-dup pipeline → (id_a, id_b, jaccard ≥ threshold).

    The shingle set is the expensive shared intermediate — the signature
    build, both sides of the LSH self-join, and the Jaccard verification all
    scan it (~6 scans in one plan).  A lazy persist is not enough: when the
    final action runs, those stages execute concurrently and race to compute
    the still-empty cache, so the shingling work runs several times over.
    Materializing eagerly (one cheap count) makes every downstream scan a
    cache hit — measured 2.2× end-to-end on the bench corpus.  At cluster
    scale the equivalent is checkpointing the shingle set to the lake.
    The cached representation is (id, md5-hash) longs, not shingle strings
    (``doc_shingle_hashes``): md5 is paid once per shingle, the cache is a
    fraction of the string footprint, and the verification join shuffles
    8-byte keys.  Signatures are persisted too (one short row per document,
    feeds both sides of the band self-join).

    ``materialize_dir``: when set, the shingle set is written to (and
    re-read from) parquet at that path instead of executor-memory persist —
    the 100 TB path, where the shingle table exceeds cluster cache and a
    task failure must not recompute the whole shingling pass.  Same
    dataflow, one write; downstream stages scan the parquet with column
    pruning.
    """
    if materialize_dir:
        spark = df.sparkSession
        doc_shingle_hashes(df, id_col, text_col, shingle_size).write.mode(
            "overwrite"
        ).parquet(materialize_dir)
        sh = spark.read.parquet(materialize_dir)
        n_shingle_rows = sh.count()  # parquet-footer metadata read, cheap
    else:
        # localCheckpoint, not persist: the shingle subtree is referenced
        # ~6x downstream and a persist leaves the full logical lineage
        # under every consumer — Catalyst re-analyzed it per reference
        # (measured: 4.6 s of driver-side planning per run at sf0.1, 62%+
        # of warm wall).  Checkpointing truncates the plan to a leaf; the
        # materialization cost is the same one pass the eager persist+count
        # already paid.  Same pattern as the iterative BPE loop
        # (247 s → 15 s) — here applied to fan-out, not iteration.
        sh = doc_shingle_hashes(df, id_col, text_col, shingle_size).localCheckpoint()
        n_shingle_rows = sh.count()  # cheap: counts the checkpointed blocks
    sigs = minhash_signatures_from_hashes(sh, id_col, num_hashes).persist()
    # candidate pairs feed one side of the verify join; checkpointing them
    # drops the band-explode self-join lineage from the final plan
    pairs = lsh_candidate_pairs(sigs, id_col, num_hashes, rows_per_band).localCheckpoint()
    jac = jaccard_from_shingles(
        sh,
        pairs,
        id_col,
        key_col="h",
        broadcast_sets="auto",
        # total shingle rows bound the verify-side set table: small corpora
        # broadcast with zero sizing jobs, big ones get measured (see
        # jaccard_from_shingles)
        elems_upper_bound=n_shingle_rows,
    )
    return jac.filter(F.col("jaccard") >= threshold)


def ngram_jaccard_join(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.5,
    shingle_size: int = 3,
) -> DataFrame:
    """EXACT n-gram Jaccard similarity join: every (id_a < id_b, jaccard)
    pair with shingle-set Jaccard ≥ threshold — no LSH approximation.

    Scale path is prefix filtering (the AllPairs/PPJoin family): shingles
    get a global order by document frequency (rarest first); for
    J(A,B) ≥ t the intersection is ≥ t·|A| (since |∩| ≤ |B| and
    |∪| ≥ |A| force |B| ≥ t·|A|), so if the first
    |A| − ⌈t·|A|⌉ + 1 prefix shingles of A miss B entirely the pair
    cannot qualify.  The candidate self-join therefore runs only on prefix
    shingles — the posting lists of common shingles (the quadratic blowup
    in a naive shared-shingle join) never enter the join.  A length filter
    (t·|B| ≤ |A| ≤ |B|/t) prunes further before exact verification.

    Unlike MinHash+LSH (recall < 1 by design) this returns exactly the
    same rows as the naive all-shared-shingle SQL — which is what the
    DuckDB oracle runs.

    r13 (guide §2.3 "shuffle keys and metadata instead of payloads"): the
    frequency ranking and the candidate self-join run on the 60-bit md5
    HASH of the shingle, not the multi-word string — every quadratic-risk
    stage shuffles fixed 8-byte longs.  This cannot change the result:
    the prefix-filter theorem holds for ANY fixed global shingle order
    (pigeonhole over the first |A| − ⌈t·|A|⌉ + 1 elements), so ordering
    by (hash doc-freq, hash) instead of (string doc-freq, string) is just
    a different valid order; a shared string always shares its hash, so
    the hash-keyed candidate join yields a SUPERSET of the string-keyed
    candidates (collisions only ever ADD candidates); and verification
    computes exact Jaccard over the raw shingle STRINGS, which removes
    any spurious candidate.  EXACT output for any input, collisions or
    not.
    """
    sh = (
        doc_shingles(df, id_col, text_col, shingle_size)
        .withColumn("h", hash64(F.col("shingle")))
        .persist()
    )
    sh.count()  # materialize once: ranking, candidates, verification share it
    freq = sh.groupBy("h").agg(F.count(F.lit(1)).alias("doc_freq"))
    sizes = sh.groupBy(id_col).agg(F.count(F.lit(1)).alias("set_size"))
    # exact integer micro-unit arithmetic — the float forms ceil(t*size)
    # and t*size_a <= size_b over-prune exact-boundary pairs when the
    # double product rounds up past the exact integer (same fix as
    # containment_join below; e.g. t=0.56 at 25 shingles)
    thr_micro = int(round(threshold * 1_000_000))
    prefix_len = (
        F.col("set_size")
        - F.expr(f"({thr_micro} * set_size + 999999) div 1000000")
        + 1
    )
    # row-local prefix selection — same rewrite as containment_join below
    # (EXACT-parity asserted in scripts/prefix_rank_ab.py): per-doc
    # sort_array + slice replaces the partition-wide row_number window sort
    prefix = (
        sh.select(id_col, "h")
        .join(freq, "h")
        .groupBy(id_col)
        .agg(
            F.sort_array(F.collect_list(F.struct("doc_freq", "h"))).alias("o"),
            F.count(F.lit(1)).alias("set_size"),
        )
        .select(
            id_col,
            F.explode(F.slice(F.col("o"), F.lit(1), prefix_len)).alias("e"),
            "set_size",
        )
        .select(id_col, F.col("e.h").alias("h"), "set_size")
    )
    a = prefix.select(
        F.col(id_col).alias("id_a"), "h", F.col("set_size").alias("size_a")
    )
    b = prefix.select(
        F.col(id_col).alias("id_b"), "h", F.col("set_size").alias("size_b")
    )
    cand = (
        a.join(b, "h")
        .filter(F.col("id_a") < F.col("id_b"))
        .filter(F.expr(f"{thr_micro} * size_a <= size_b * 1000000"))
        .filter(F.expr(f"{thr_micro} * size_b <= size_a * 1000000"))
        .select("id_a", "id_b")
        .distinct()
        # lineage truncation, same reason as the minhash path above: the
        # prefix self-join's lineage otherwise re-plans (and, for
        # multi-consumer callers like label spread's bidirectional union,
        # re-EXECUTES) under every consumer — measured at sf0.001:
        # label_spread 76 -> 6 plan exchanges, plan 2.4 s -> 0.3 s, exec
        # 13.1 s -> 1.1 s; dedup_keep_first 39 -> 9, dedup_ngram_jaccard
        # 36 -> 6.  Candidates are the id-pair table (output-bounded),
        # cheap to pin.
        .localCheckpoint(eager=True)
    )
    # Verification: exploded-row double join over the raw shingle STRINGS
    # (exact under hash collisions by construction).  r13 A/B at sf0.1,
    # 310,161 candidates: the previous jaccard_from_shingles collapsed-
    # ARRAY verify took 10.9 s — its broadcast-array pattern wins for the
    # MinHash path whose elements are 8-byte longs (r8 measurement), but
    # with multi-word string elements the per-row array_intersect and the
    # array-bearing join rows dominate.  Explode verify: 4.3 s, identical
    # 256 output rows.  (An injectivity-audited hash-array variant
    # measured 3.8 s + a ~1 s audit aggregate — net wash, rejected for
    # complexity; see OPTIMIZATION_r13.md.)
    inter = (
        cand.join(sh.select(F.col(id_col).alias("id_a"), "shingle"), "id_a")
        .join(
            sh.select(F.col(id_col).alias("id_b"), "shingle"),
            ["id_b", "shingle"],
        )
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("inter_size"))
    )
    return (
        inter.join(
            sizes.select(F.col(id_col).alias("id_a"), F.col("set_size").alias("sza")),
            "id_a",
        )
        .join(
            sizes.select(F.col(id_col).alias("id_b"), F.col("set_size").alias("szb")),
            "id_b",
        )
        .select(
            "id_a",
            "id_b",
            (
                F.col("inter_size").cast("double")
                / (F.col("sza") + F.col("szb") - F.col("inter_size")).cast(
                    "double"
                )
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def containment_join(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.8,
    min_size: int = 5,
    shingle_size: int = 3,
    prefix_filter: bool = True,
) -> DataFrame:
    """EXACT directional containment join: every ordered pair (A, B),
    A != B, with |shingles(A) ∩ shingles(B)| / |shingles(A)| ≥ threshold
    and |shingles(A)| ≥ min_size — the superset/quotation case symmetric
    Jaccard structurally misses.

    Scale path is the ASYMMETRIC prefix filter (the containment member of
    the AllPairs family): shingles get a global rarest-first order; for
    C(A→B) ≥ t at least t·|A| of A's shingles must hit B, so if A's first
    |A| − ⌈t·|A|⌉ + 1 prefix shingles all miss B the pair cannot qualify.
    Only the CONTAINED side is prefix-reduced — the container side must
    keep its full shingle set (a shingle outside B's prefix still counts
    toward containment of A) — so the candidate join is prefix(A) ⋈
    full(B): the quadratic posting lists of COMMON shingles never meet
    each other, because prefix shingles are by construction the rare
    ones.  A one-sided size filter (|B| ≥ t·|A|) prunes further before
    exact verification.

    ``prefix_filter`` is a measured regime knob, not a correctness one
    (results are identical either way).  r12 measured the naive join 8×
    faster on duplicate-saturated corpora (answer density ≈ candidate
    density) and shipped False as the documented regime for them — but the
    r13 rewrites (hash-keyed candidate stages, row-local prefix selection)
    erased that crossover: re-measured on r14 code
    (scripts/containment_auto_ab.py), the prefix path wins BOTH shapes —
    4.0× on the sparse-answer sf0.1 corpus (7.45 s vs 30.06 s) and 3.7×
    on the 20k-doc 4×-near-duplicate corpus (156.6 s vs 582.1 s), outputs
    asserted identical.  An auto-select (VERDICT r13 #3) was therefore
    built, measured, and DROPPED: there is no crossover left to arbitrate
    (and the duplicated-occurrence stat it used mis-classifies
    template-heavy corpora anyway — the sf0.1 documents table reads 999/1000
    duplicated occurrences while prefix wins it 4×).  Keep True; False
    remains only as the escape hatch for a future corpus that re-opens the
    question, to be re-measured before use.

    Returns (contained_id, container_id, inter_size, contained_size,
    containment_micro) with the ratio in exact integer micro-units —
    identical rows to the naive all-shared-shingle join.
    """
    # r13 (guide §2.3): ranking + candidate stages are keyed by the 60-bit
    # md5 hash of the shingle (8-byte longs through every quadratic-risk
    # shuffle); verification joins the raw STRINGS, so output rows are
    # EXACT regardless of hash collisions — same argument as
    # ngram_jaccard_join above (any global order is a valid prefix order;
    # hash-join candidates are a superset of string-join candidates).
    sh = (
        doc_shingles(df, id_col, text_col, shingle_size)
        .withColumn("h", hash64(F.col("shingle")))
        .persist()
    )
    sh.count()  # materialize once: ranking, candidates, verification share it
    sizes = sh.groupBy(id_col).agg(F.count(F.lit(1)).alias("set_size"))
    # ALL threshold arithmetic in exact integer micro-units (the same
    # discipline the verify stage uses).  The float forms ceil(t*size) and
    # t*size_a <= size_b over-prune exact-boundary pairs whenever the
    # double product rounds up past the exact integer (e.g. t=0.56 at 25
    # shingles: 0.56*25 = 14.000000000000002, so float-ceil says 15 where
    # exact ceil(14) = 14) — silently breaking the EXACT contract.
    # ceil(t*size) == (thr_micro*size + 999_999) div 1_000_000 exactly,
    # and thr_micro*size tops out at ~1e6 * |shingles|, far inside int64.
    thr_micro = int(round(threshold * 1_000_000))
    if prefix_filter:
        freq = sh.groupBy("h").agg(F.count(F.lit(1)).alias("doc_freq"))
        prefix_len = (
            F.col("set_size")
            - F.expr(f"({thr_micro} * set_size + 999999) div 1000000")
            + 1
        )
        # Prefix selection by ROW-LOCAL sort (r13): collect each doc's
        # (doc_freq, h) structs, sort_array + slice per row, explode the
        # slice — identical output to the previous row_number window
        # (asserted EXACT in scripts/prefix_rank_ab.py; same per-doc total
        # order), but the partition-wide window SORT over every shingle
        # row is replaced by bounded per-doc array sorts (median 0.99 s ->
        # 0.82 s at sf0.1; the scaling argument — no full sort of the
        # element table — is the larger point).
        a_side = (
            sh.select(id_col, "h")
            .join(freq, "h")
            .groupBy(id_col)
            .agg(
                F.sort_array(
                    F.collect_list(F.struct("doc_freq", "h"))
                ).alias("o"),
                F.count(F.lit(1)).alias("set_size"),
            )
            .filter(F.col("set_size") >= min_size)
            .select(
                id_col,
                F.explode(F.slice(F.col("o"), F.lit(1), prefix_len)).alias("e"),
                "set_size",
            )
            .select(id_col, F.col("e.h").alias("h"), "set_size")
        )
    else:
        a_side = sh.select(id_col, "h").join(sizes, id_col).filter(
            F.col("set_size") >= min_size
        ).select(id_col, "h", "set_size")
    a = a_side.select(
        F.col(id_col).alias("id_a"), "h", F.col("set_size").alias("size_a")
    )
    b = sh.select(id_col, "h").join(sizes, id_col).select(
        F.col(id_col).alias("id_b"), "h", F.col("set_size").alias("size_b")
    )
    cand = (
        a.join(b, "h")
        .filter(F.col("id_a") != F.col("id_b"))
        # exact integer form of t*|A| <= |B| (both paths share this filter,
        # so a float rounding here would be invisible to the prefix-vs-
        # naive property test — keep it integer)
        .filter(F.expr(f"{thr_micro} * size_a <= size_b * 1000000"))
        .select("id_a", "id_b")
        .distinct()
        # lineage truncation, same reason as the Jaccard path above
        .localCheckpoint(eager=True)
    )
    # Verification stays the exploded-row double join over the raw shingle
    # STRINGS (exact under hash collisions).  A collapsed-array +
    # broadcast variant (the r8 MinHash verify pattern) was A/B'd here in
    # r13 and LOST — min 5.35 s vs 3.88 s on 205,864 candidates at sf0.1:
    # with multi-word STRING elements the per-row array_intersect hash-set
    # build and the array-bearing join rows cost more than the codegen'd
    # narrow-row joins; the MinHash path wins with arrays because its
    # elements are 8-byte longs.  (Honest negative result — do not
    # re-chase without changing the element representation.)
    inter = (
        cand.join(
            sh.select(F.col(id_col).alias("id_a"), "shingle"), "id_a"
        )
        .join(
            sh.select(F.col(id_col).alias("id_b"), "shingle"),
            ["id_b", "shingle"],
        )
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("inter_size"))
    )
    return (
        inter.join(
            sizes.select(
                F.col(id_col).alias("id_a"), F.col("set_size").alias("sa")
            ),
            "id_a",
        )
        .filter(
            (F.expr("(inter_size * 1000000) div sa") >= thr_micro)
            & (F.col("sa") >= min_size)
        )
        .select(
            F.col("id_a").alias("contained_id"),
            F.col("id_b").alias("container_id"),
            F.col("inter_size").cast("long").alias("inter_size"),
            F.col("sa").cast("long").alias("contained_size"),
            F.expr("(inter_size * 1000000) div sa")
            .cast("long")
            .alias("containment_micro"),
        )
    )


def simhash(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text", bits: int = 32
) -> DataFrame:
    """SimHash per document: (id, simhash) with the given bit width.

    bit b of the hash is 1 iff sum over tokens of ±1 (by bit b of the token
    hash) is positive; duplicate tokens count with multiplicity.
    """
    toks = df.select(F.col(id_col), F.explode(tokens_col(text_col)).alias("token"))
    hashed = toks.select(F.col(id_col), hash64(F.col("token")).alias("h"))
    bit = hashed.select(
        F.col(id_col),
        F.explode(F.sequence(F.lit(0), F.lit(bits - 1))).alias("b"),
        F.col("h"),
    ).select(
        F.col(id_col),
        F.col("b"),
        F.expr("CASE WHEN (shiftright(h, b) & 1) = 1 THEN 1 ELSE -1 END").alias("contrib"),
    )
    per_bit = bit.groupBy(id_col, "b").agg(F.sum("contrib").alias("s"))
    return per_bit.groupBy(id_col).agg(
        F.sum(
            F.expr("CASE WHEN s > 0 THEN shiftleft(CAST(1 AS BIGINT), b) ELSE CAST(0 AS BIGINT) END")
        ).cast("long").alias("simhash")
    )


def simhash_candidate_pairs(
    sims: DataFrame, id_col: str = "doc_id", max_hamming: int = 3, bits: int = 32
) -> DataFrame:
    """Pre-verify candidate pairs from the pigeonhole block join.

    Exposed separately (like ``lsh_candidate_pairs`` for MinHash) so the
    verify-stage bill — the dominant cost at corpus scale — can be priced
    per (bits, max_hamming) operating point; ``simhash_near_pairs`` is
    this plus the bit_count hamming verify.
    """
    blocks = max_hamming + 1
    block_bits = bits // blocks
    exprs = []
    for blk in range(blocks):
        mask = ((1 << block_bits) - 1) << (blk * block_bits)
        if mask >= 1 << 63:  # top block of a 64-bit signature: wrap to
            mask -= 1 << 64  # the signed long Spark's LongType stores
        exprs.append(
            sims.select(
                F.col(id_col),
                F.col("simhash"),
                F.lit(blk).alias("blk"),
                F.col("simhash").bitwiseAND(F.lit(mask)).alias("blk_key"),
            )
        )
    blocked = exprs[0]
    for e in exprs[1:]:
        blocked = blocked.unionAll(e)
    left = blocked.select(
        F.col(id_col).alias("id_a"), F.col("simhash").alias("sh_a"), "blk", "blk_key"
    )
    right = blocked.select(
        F.col(id_col).alias("id_b"), F.col("simhash").alias("sh_b"), "blk", "blk_key"
    )
    return (
        left.join(right, ["blk", "blk_key"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", "sh_a", "sh_b")
        .distinct()
    )


def simhash_near_pairs(
    sims: DataFrame, id_col: str = "doc_id", max_hamming: int = 3, bits: int = 32
) -> DataFrame:
    """Near-dup pairs by SimHash hamming distance, blocked on sub-words.

    Pigeonhole: two hashes within hamming d must agree exactly on at least
    one of (d+1) blocks — join on block equality, verify with bit_count.
    Measured operating points vs trigram-Jaccard>=0.5 truth at sf0.1
    (scripts/simhash_operating_point_ab.py, SCALE.md r12): more bits at
    fixed hamming trades recall for precision — 32/h3 is the recall-heavy
    prefilter (0.91 recall, 0.002 precision, 2.46M block candidates);
    64/h3 is the balanced point (0.73 recall, 0.37 precision, 11x fewer
    candidates); 64/h2 is precision-first (0.57 recall, 0.73 precision,
    78x fewer).  Pick by whether a verify stage follows.
    """
    cand = simhash_candidate_pairs(
        sims, id_col=id_col, max_hamming=max_hamming, bits=bits
    )
    return cand.select(
        "id_a",
        "id_b",
        F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b"))).cast("int").alias("hamming"),
    ).filter(F.col("hamming") <= max_hamming)


def keep_latest(
    df: DataFrame,
    keys: list,
    order_cols: list,
) -> DataFrame:
    """Latest-record resolution (CDC-style upsert dedup): keep exactly one
    row per key, the maximum under ``order_cols`` (descending, e.g.
    [timestamp, sequence_id] — the trailing columns break ties so the
    result is deterministic even with equal timestamps).

    One shuffle on the key columns, as a ``max_by`` AGGREGATE rather than a
    rank window: the aggregate pre-combines map-side, so when a key has many
    versions co-located in a scan partition only the current winner crosses
    the wire, and no per-group sort runs reduce-side.  This is the standard
    change-data-capture compaction: at 100 TB it is a single hash
    repartition — prefer it over ``ORDER BY ... DROP DUPLICATES``
    formulations that imply a global sort.
    """
    cols = df.columns
    winner = F.max_by(
        F.struct(*[F.col(c) for c in cols]),
        F.struct(*[F.col(c) for c in order_cols]),
    ).alias("_w")
    return (
        df.groupBy(*[F.col(k) for k in keys])
        .agg(winner)
        .select(*[F.col(f"_w.{c}").alias(c) for c in cols])
    )
