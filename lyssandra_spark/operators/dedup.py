"""Near-duplicate detection operators over document/transcript text.

Training-data-pipeline staples, each Spark-first:

- :func:`exact_dedup` — hash-groupBy (one shuffle on the text hash).
- :func:`dedup_paragraphs` — corpus-level repeated-paragraph removal
  (Gopher/C4-style boilerplate stripping INSIDE documents): skew-proof
  paragraph-hash count + ordered reassembly.
- :func:`minhash_lsh_pairs` — shingle -> minhash -> band -> bucket-join:
  the scale path. Signatures are computed in one vectorized mapInArrow
  pass (numpy, no per-row Python); candidate generation is an explode on
  (band, band_hash) + self-join INSIDE buckets only — at 10^12 docs the
  shuffle is on (band, hash) keys, never an all-pairs cross join.
- :func:`simhash` — 64-bit simhash from the same rolling-hash features;
  near-dups differ in few bits (Hamming); column output so downstream
  grouping on prefixes is plain Spark.
- :func:`embedding_neardup_pairs` — cosine near-dup over an embedding
  column via LSH on random hyperplanes (sign sketch), bucket-join, then
  exact cosine verification of candidates.

Exact Jaccard / cosine verification of the candidates happens in-plan
(array_intersect / zip_with aggregates — JVM-side), so the LSH stage only
has to be high-recall, not exact.
"""

from __future__ import annotations

import threading
from typing import Iterator

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from lyssandra_spark.functions.embed import arrow_string_buffer, rolling_hashes

__all__ = [
    "exact_dedup",
    "dedup_paragraphs",
    "dedup_spans",
    "dedup_token_spans",
    "paragraph_counts",
    "span_counts",
    "minhash_signatures",
    "band_signatures",
    "est_jaccard",
    "minhash_lsh_pairs",
    "simhash",
    "simhash_bands",
    "simhash_neardup_pairs",
    "simhash_pairs_from_hashes",
    "embedding_neardup_pairs",
    "shingle_set",
    "release_span_caches",
]

_MERSENNE = np.uint64((1 << 61) - 1)

# persisted hot-position tables created by dedup_spans/dedup_token_spans
# (see _dedup_window_spans): each call caches one small per-affected-doc
# frame so reassembly doesn't re-derive the discovery chain. A
# long-lived driver running many dedup calls accumulates these until
# LRU pressure evicts them — release_span_caches() frees them eagerly.
# The lock makes register/release safe from concurrent driver threads
# (multiple notebook cells / a thread pool issuing dedup calls): list
# append/pop alone would interleave and could double-release or skip a
# frame.
_SPAN_CACHES: list[DataFrame] = []
_SPAN_CACHES_LOCK = threading.Lock()


def _register_span_cache(df: DataFrame) -> None:
    with _SPAN_CACHES_LOCK:
        _SPAN_CACHES.append(df)


def release_span_caches() -> int:
    """Unpersist every hot-position cache created by span/token-window
    dedup calls in this session (safe any time: the caches are
    lineage-preserving, so a still-running consumer just recomputes).
    Returns the number of caches released. Long-running drivers should
    call this after the dedup output has been written. Thread-safe:
    concurrent callers each release a disjoint subset."""
    n = 0
    while True:
        with _SPAN_CACHES_LOCK:
            if not _SPAN_CACHES:
                return n
            df = _SPAN_CACHES.pop()
        try:
            df.unpersist()
            n += 1
        except Exception:
            pass  # session already stopped — nothing to release


def exact_dedup(df: DataFrame, text_col: str = "text", keys=("doc_id",)) -> DataFrame:
    """Keep one row per exact text (lowest key wins); adds n_copies.

    Skew-proof single pass: hash the text, then ONE groupBy on the hash
    with ``min_by(struct(all cols), struct(keys))`` + ``count(*)``. Both
    aggregates PARTIAL-MERGE map-side, so a pathological duplicate class
    (the 10^7-copy boilerplate page — the exact input this operator exists
    for) is reduced to one candidate row per input partition BEFORE the
    shuffle; no task ever sees more rows of a hot hash than its own input
    partition holds. (The previous row_number()/count() window form put
    ALL copies of one text on one task — a sort-then-scan serialization at
    adversarial skew; tested equal in tests/test_dedup.py, including the
    planted mega-duplicate class.)
    """
    keys = list(keys)
    cols = df.columns
    winner = F.min_by(
        F.struct(*[F.col(c) for c in cols]),
        F.struct(*[F.col(k) for k in keys]),
    ).alias("__row")
    return (
        df.withColumn("__h", F.md5(F.col(text_col)))
        .groupBy("__h")
        .agg(winner, F.count("*").alias("n_copies"))
        .select(*[F.col(f"__row.{c}").alias(c) for c in cols], "n_copies")
    )


def paragraph_counts(
    df: DataFrame,
    text_col: str = "text",
    sep: str = "\n",
) -> DataFrame:
    """Corpus paragraph frequencies: (para, n) over unicode-trimmed,
    non-blank paragraphs — the SUM-MERGEABLE aggregate behind
    :func:`dedup_paragraphs`' hot set. Persist per-batch outputs to a
    catalog table and maintain the corpus-wide totals with
    :func:`~lyssandra_spark.operators.incremental.refresh_aggregate`
    (``keys="para", sum_cols="n"``): boilerplate stripping of a NEW
    batch then needs only the maintained table (filter ``sum_n >=
    min_dup`` -> pass as ``hot=`` to ``dedup_paragraphs``) — the
    historical corpus is never re-split. One explode + one count
    shuffle with map-side partials; same split/trim conventions as
    ``dedup_paragraphs`` by construction (shared helpers)."""
    pat = _quote_sep(sep)
    parts = df.select(
        F.explode(F.split(F.col(text_col), pat, -1)).alias("para")
    ).select(_utrim("para").alias("para"))
    return (
        parts.where(F.col("para") != "")
        .groupBy("para")
        .agg(F.count("*").alias("n"))
    )


def _quote_sep(sep: str) -> str:
    """Literal separator as a regex: \\Q..\\E quoting, with any \\E
    embedded in sep itself re-quoted (close the quote, emit a literal
    \\E, reopen) — otherwise the remainder would parse as a pattern."""
    return "\\Q" + sep.replace("\\E", "\\E\\\\E\\Q") + "\\E"


def _utrim(col) -> "Column":
    """Unicode-aware trim (Spark's trim() strips ASCII spaces only)."""
    return F.regexp_replace(col, r"(?U)^\s+|\s+$", "")


def dedup_paragraphs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    sep: str = "\n",
    min_dup: int = 2,
    hot: DataFrame | None = None,
) -> DataFrame:
    """Remove paragraphs repeated >= ``min_dup`` times ACROSS THE CORPUS
    from every document — the repeated-span boilerplate removal of
    production curation pipelines (Rae et al. 2021 Gopher/MassiveText
    remove repeated paragraphs; Raffel et al. 2020 C4 drops repeated
    three-sentence spans): nav bars, cookie banners, and license headers
    repeat across millions of pages while real prose does not, so
    document-level dedup never catches them.

    Returns (id, text, n_paras, n_removed) with surviving paragraphs
    rejoined by ``sep`` in original order. Paragraph identity is
    ``trim(paragraph)`` ITSELF (exact, case-sensitive — the Gopher
    convention; the 64-bit hash that rides alongside is only the
    group/join key prefix, and the trimmed text is always compared too,
    so a hash collision can neither strip an innocent paragraph nor
    inflate a count); blank/whitespace-only paragraphs are STRUCTURE,
    never counted or removed, so a document with nothing repeated
    round-trips byte-identically (split + rejoin on the literal
    separator is exact; property-tested). ``sep`` is treated as a
    literal string, not a regex (embedded ``\\E`` is re-quoted).
    Documents whose every non-blank paragraph was boilerplate keep
    their row (empty-ish text, ``n_removed`` accounting). Null-text
    documents yield no row (no paragraphs — same convention as the LM
    scorer).

    ``hot`` (optional) supplies the boilerplate set EXTERNALLY — a
    DataFrame with a trimmed-paragraph ``para`` column, typically the
    incrementally-maintained :func:`paragraph_counts` table filtered
    to ``sum_n >= min_dup``. With ``hot`` given, this operator never
    counts the input corpus: the plan is explode -> join against the
    supplied set -> reassemble, which is how a NEW batch is stripped
    against historical corpus statistics without re-splitting 100 TB
    (``min_dup`` is then the maintainer's threshold, unused here).

    Plan at 100 TB: posexplode (map-only) -> ONE count shuffle keyed on
    (hash, trimmed paragraph), with map-side partial counts absorbing
    the hot boilerplate key (a 10^7-copy cookie banner crosses the wire
    once per task, not once per copy; the shuffle row carries the
    trimmed text of each distinct paragraph once per task — the price
    of exact identity) -> join the (filtered, small: only paragraphs
    that actually repeat) hot set back -> ONE groupBy(id) to
    reassemble. The hot-set join is left to AQE: it usually broadcasts,
    but the operator does not force it since the dup set is
    corpus-sized in the worst case.
    """
    if min_dup < 2:
        raise ValueError(f"min_dup ({min_dup}) must be >= 2")
    pat = _quote_sep(sep)  # literal separator, never a regex
    # unicode-aware trim for paragraph IDENTITY and blankness: Spark's
    # trim() strips ASCII spaces only, so a tab/NBSP-only line would be
    # hashed as content and stripped as "boilerplate" corpus-wide —
    # exactly the structure this operator promises never to touch
    utrim = _utrim("para")
    parts = df.select(
        id_col,
        F.posexplode(F.split(F.col(text_col), pat, -1)).alias("pos", "para"),
    ).withColumn(
        "__t", F.when(utrim != "", utrim)
    ).withColumn(
        # xxhash64(null) is the SEED (42), not null — blanks stay out of
        # the hot set because the null __t KEY never equality-matches in
        # the group/join below, not because of the hash
        "__h", F.xxhash64("__t")
    )
    if hot is None:
        hot_set = (
            parts.where(F.col("__t").isNotNull())
            .groupBy("__h", "__t")  # exact: colliding texts count apart
            .agg(F.count("*").alias("__n"))
            .where(F.col("__n") >= min_dup)
            .select("__h", "__t", F.lit(True).alias("__dup"))
        )
    else:
        # external (e.g. incrementally-maintained) boilerplate set:
        # blank entries are structure by contract — never removable
        hot_set = (
            hot.select(_utrim("para").alias("__t"))
            .where(F.col("__t") != "")
            .distinct()
            .select(F.xxhash64("__t").alias("__h"), "__t",
                    F.lit(True).alias("__dup"))
        )
    marked = parts.join(hot_set, ["__h", "__t"], "left")
    return marked.groupBy(id_col).agg(
        F.concat_ws(
            sep,
            F.transform(
                F.array_sort(
                    F.collect_list(  # nulls (removed paras) are skipped
                        F.when(F.col("__dup").isNull(),
                               F.struct("pos", "para"))
                    )
                ),
                lambda s: s["para"],
            ),
        ).alias(text_col),
        F.count("*").cast("long").alias("n_paras"),
        F.sum(F.when(F.col("__dup").isNotNull(), 1).otherwise(0))
        .cast("long").alias("n_removed"),
    )


_SENT_SPLIT_RE = r"(?U)(?<=[.!?])(?=\s)"
_TOKEN_SPLIT_RE = r"(?U)(?<=\S)(?=\s)"


def span_counts(
    df: DataFrame,
    text_col: str = "text",
    n_units: int | None = None,
    unit: str = "sentence",
) -> DataFrame:
    """Corpus span frequencies: (span, n) over the sliding windows
    :func:`dedup_spans` (``unit="sentence"``) or
    :func:`dedup_token_spans` (``unit="token"``) would count — the
    SUM-MERGEABLE aggregate behind their hot sets, the span-granularity
    twin of :func:`paragraph_counts`. Persist per-batch outputs and
    fold with ``refresh_aggregate(keys="span", sum_cols="n")``; strip a
    NEW batch by passing the maintained table (filtered to ``sum_n >=
    min_dup``) as ``hot=`` — history is never re-split. Span identity
    is exactly the dedup operators' key (trimmed chunks joined by one
    space), by construction: the key arrays come from the same helper.

    ``n_units`` MUST equal the consuming dedup operator's window length
    (``n_sents`` / ``span_tokens``): span keys are window-length-
    dependent, so a hot set built at a different length silently matches
    nothing. The default therefore tracks each wrapper's default —
    3 for ``unit="sentence"`` (:func:`dedup_spans`), 50 for
    ``unit="token"`` (:func:`dedup_token_spans`); pass it explicitly
    whenever the dedup side overrides its default.
    """
    split_re = {"sentence": _SENT_SPLIT_RE, "token": _TOKEN_SPLIT_RE}.get(unit)
    if split_re is None:
        raise ValueError(f"unit must be 'sentence' or 'token', got {unit!r}")
    if n_units is None:
        n_units = {"sentence": 3, "token": 50}[unit]
    if n_units < 1:
        raise ValueError(f"n_units ({n_units}) must be >= 1")
    base = _span_key_arrays(df, None, text_col, split_re, n_units)
    return (
        base.select(F.explode("__spans").alias("span"))
        .where(F.col("span") != "")
        .groupBy("span")
        .agg(F.count("*").alias("n"))
    )


def dedup_spans(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_sents: int = 3,
    min_dup: int = 2,
    hot: DataFrame | None = None,
    materialize_hot: bool = True,
) -> DataFrame:
    """Remove every ``n_sents``-sentence SPAN that repeats >= ``min_dup``
    times across the corpus — the C4 three-sentence-span occurrence
    filter (Raffel et al. 2020 §2.2 drop spans occurring more than once;
    Lee et al. 2021 generalize to exact substrings), one granularity
    below :func:`dedup_paragraphs`: a boilerplate block pasted MID-
    paragraph never matches a whole trimmed paragraph, but its sentence
    window does.

    Sentences are zero-width-split chunks — the text is split at
    ``(?<=[.!?])(?=\\s)`` (after terminal punctuation, before
    whitespace), so every chunk KEEPS its leading whitespace and the
    concatenation of all chunks is byte-identical to the input. A doc
    with no repeated span therefore round-trips exactly
    (property-tested). Span identity is the unicode-trimmed chunks
    joined by one space (inter-sentence whitespace/newlines normalized;
    intra-sentence spacing preserved — the trim convention of
    ``dedup_paragraphs``), compared as TEXT with the 64-bit hash only a
    key prefix, so collisions cannot strip innocent spans. Removal takes
    the UNION of all hot spans' sentence windows (overlapping hot spans
    compose). Docs with fewer than ``n_sents`` sentences are untouched;
    null-text docs yield no row (the corpus-dedup convention).

    Returns (id, text, n_sents_total, n_removed_sents).

    Plan at 100 TB: span keys are built per-row with array expressions
    (map-only — no per-sentence explode for construction) -> posexplode
    -> an 8-byte-key hash count shuffle, then exact (hash, text)
    verification of hot hashes only (the two-phase discovery of
    :func:`_dedup_window_spans` — span strings never ride the corpus-
    wide exchange) -> shuffle-based reassembly over AFFECTED docs only
    (docs without boilerplate never leave the map side).
    """
    if n_sents < 1:
        raise ValueError(f"n_sents ({n_sents}) must be >= 1")
    # (?U): Java \s is ASCII-only without UNICODE_CHARACTER_CLASS — an
    # NBSP/ideographic-space sentence boundary would silently never
    # split (and the python-oracle tests use unicode \s), the same
    # pitfall the trim documents. ``hot`` (a DataFrame with a ``span``
    # column, e.g. the refresh_aggregate-maintained span_counts table
    # filtered to the threshold) strips against EXTERNAL corpus
    # statistics without counting the input — see paragraph_counts for
    # the maintenance recipe; its keys are unicode-re-trimmed on entry
    # (identity for proper span_counts keys — only hand-built sets
    # with stray whitespace behave differently, matching now instead
    # of never), the dedup_paragraphs convention.
    return _dedup_window_spans(
        df, id_col, text_col, _SENT_SPLIT_RE, n_sents, min_dup,
        "n_sents_total", "n_removed_sents", hot=hot,
        materialize_hot=materialize_hot,
    )


def dedup_token_spans(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    span_tokens: int = 50,
    min_dup: int = 2,
    hot: DataFrame | None = None,
    materialize_hot: bool = True,
) -> DataFrame:
    """Remove every ``span_tokens``-token sliding window that repeats
    >= ``min_dup`` times across the corpus — the Lee et al. 2021
    ("Deduplicating Training Data Makes Language Models Better")
    repeated-substring filter at its canonical 50-token granularity,
    the finest unit in the paragraph -> sentence-span -> token-span
    family (tokens here are whitespace-delimited words — the
    dependency-free analogue of the paper's BPE tokens; stride is 1, so
    any shared run of >= ``span_tokens`` tokens is covered by at least
    one hot window and the UNION of windows removes the whole run).

    Same zero-width-chunk machinery as :func:`dedup_spans` (chunks
    split at ``(?<=\\S)(?=\\s)`` keep their leading whitespace, so
    span-free docs round-trip byte-identically; identity is the
    unicode-trimmed tokens joined by one space, text-compared).
    Returns (id, text, n_tokens_total, n_removed_tokens).

    Scale note: stride-1 token windows emit ~one span per token, but
    the corpus-wide count shuffle carries only the 8-byte span HASH per
    window (phase 1 of :func:`_dedup_window_spans`); the ~span_tokens-
    word span strings cross the wire only for windows whose hash is hot
    (phase 2's exact text verification), so distinct (non-duplicated)
    text — the bulk of a real corpus — never inflates the shuffle.
    Suffix arrays are how Lee et al. pay this cost; prefer
    :func:`dedup_spans`/:func:`dedup_paragraphs` when coarser units
    suffice. An external ``hot`` set is matched on re-trimmed span
    keys (proper :func:`span_counts` keys are unchanged; see
    :func:`_dedup_window_spans`).
    """
    if span_tokens < 1:
        raise ValueError(f"span_tokens ({span_tokens}) must be >= 1")
    return _dedup_window_spans(
        df, id_col, text_col, _TOKEN_SPLIT_RE, span_tokens, min_dup,
        "n_tokens_total", "n_removed_tokens", hot=hot,
        materialize_hot=materialize_hot,
    )


def _span_key_arrays(
    df: DataFrame,
    id_col: str | None,
    text_col: str,
    split_re: str,
    n_units: int,
) -> DataFrame:
    """(id?, __chunks, __spans) per non-null-text row: zero-width chunk
    split (concat of chunks == input) and the sliding-window span keys
    (unicode-trimmed chunks joined by one space) — the identity shared
    by the dedup operators and :func:`span_counts`."""
    chunks = F.split(F.col(text_col), split_re)
    trim = lambda c: F.regexp_replace(c, r"(?U)^\s+|\s+$", "")  # noqa: E731
    n = F.size("__chunks")
    span_keys = F.when(
        n >= n_units,
        F.transform(
            F.sequence(F.lit(0), n - n_units),
            lambda i: F.array_join(
                F.transform(F.slice("__chunks", i + 1, n_units), trim), " "
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))
    keep = [id_col] if id_col is not None else []
    return (
        df.where(F.col(text_col).isNotNull())
        .select(*keep, chunks.alias("__chunks"))
        .withColumn("__spans", span_keys)
    )


def _dedup_window_spans(
    df: DataFrame,
    id_col: str,
    text_col: str,
    split_re: str,
    n_units: int,
    min_dup: int,
    total_name: str,
    removed_name: str,
    hot: DataFrame | None = None,
    materialize_hot: bool = True,
) -> DataFrame:
    """Shared corpus-wide sliding-window removal pipeline: zero-width
    chunk split (concat of chunks == input), per-row span-key arrays,
    TWO-PHASE hot-span discovery, shuffle-based reassembly of affected
    docs only (see the public wrappers for semantics).

    Phase 1 counts on ``xxhash64(span)`` ALONE: grouping by the hash
    projects the span TEXT out of the map-side partial aggregate, so
    the corpus-wide count shuffle carries 8-byte keys — not the
    ~n_units-word strings that made stride-1 token windows ship ~20x
    the corpus in shuffle bytes. Phase 2 filters the span stream to
    rows whose hash is hot (a broadcastable set in realistic corpora)
    and, in ONE candidate shuffle, both verifies exactly on (hash, span
    TEXT) — a window count over the (hash, text) partition — and keeps
    each surviving row's (doc, position): a text with >= min_dup copies
    always has a hot hash (phase-1 counts upper-bound per-text counts)
    and a colliding innocent text fails the window count, so exactness
    is identical to the historical one-phase (hash, text) count while
    distinct (non-duplicated) text never crosses a corpus-wide wire.

    The per-doc hot-position table (one row per AFFECTED doc, an int
    array) is CACHED via ``persist(MEMORY_AND_DISK)`` — it is the
    pipeline's bounded small state, and reassembly consumes it three
    times (covered positions, affected semi-join, untouched anti-join);
    without the cache Catalyst re-derives the whole discovery chain per
    consumer, turning 2 corpus span passes into 6+ (measured ~3x wall
    on the x24 bench). persist is lazy (calling this function stays
    side-effect-free) and keeps lineage, so an executor loss recomputes
    rather than failing on a lost checkpoint block; the cache lives
    until Spark's LRU evicts it (it is one int-array row per affected
    doc — small) or the caller frees it eagerly via
    :func:`release_span_caches` (long-lived drivers should, after the
    dedup output is written). ``materialize_hot=False`` skips the
    cache entirely (plan-inspection tests).

    Reassembly runs over AFFECTED docs only and is shuffle-based
    (posexplode -> covered-position join -> one groupBy(id), the
    ``dedup_paragraphs`` shape): membership of a chunk in the covered
    set is a join, not a per-chunk ``array_contains`` over a covered
    array — a mostly-hot book-length doc is O(n log n) in the shuffle,
    not an O(n_chunks x n_covered) single-task straggler. Docs with no
    hot window never leave the map side.
    """
    if min_dup < 2:
        raise ValueError(f"min_dup ({min_dup}) must be >= 2")
    base = _span_key_arrays(df, id_col, text_col, split_re, n_units)
    spans = (
        base.select(id_col, F.posexplode("__spans").alias("span_pos", "__t"))
        .where(F.col("__t") != "")
        .withColumn("__h", F.xxhash64("__t"))
    )
    if hot is None:
        # phase 1: 8-byte-key count; the aggregate's pre-shuffle
        # projection drops __t, so span text never enters this exchange
        hot_hashes = (
            spans.groupBy("__h")
            .agg(F.count("*").alias("__hn"))
            .where(F.col("__hn") >= min_dup)
            .select("__h")
        )
        # phase 2: candidates = hash-hot rows only (AQE broadcasts the
        # hash set); ONE window shuffle on (hash, text) verifies the
        # exact per-text count AND emits surviving (doc, position) rows
        wspec = Window.partitionBy("__h", "__t")
        hotrows = (
            spans.join(hot_hashes, "__h", "left_semi")
            .withColumn("__n", F.count(F.lit(1)).over(wspec))
            .where(F.col("__n") >= min_dup)
            .select(id_col, "span_pos")
        )
    else:
        # external (incrementally-maintained) span set: entries are
        # span KEYS; re-trim for symmetry with dedup_paragraphs' hot
        # path (a proper span_counts key is already trimmed, so this is
        # the identity — it only rescues hand-built sets with stray
        # whitespace, which previously never matched)
        hot_set = (
            hot.select(_utrim(F.col("span")).alias("__t"))
            .where(F.col("__t").isNotNull() & (F.col("__t") != ""))
            .distinct()
            .select(F.xxhash64("__t").alias("__h"), "__t")
        )
        hotrows = (
            spans.join(hot_set.select("__h").distinct(), "__h", "left_semi")
            .join(hot_set, ["__h", "__t"], "left_semi")
            .select(id_col, "span_pos")
        )
    # one row per affected doc: its hot window starts as an int array —
    # the bounded state everything downstream reads
    hot_pos = hotrows.groupBy(id_col).agg(
        F.collect_set("span_pos").alias("__hp")
    )
    if materialize_hot:
        # persist, NOT localCheckpoint: lazy (building this plan stays
        # side-effect-free) and lineage-preserving (an executor loss
        # recomputes the partition instead of failing on a missing
        # checkpoint block — the durability a 1000-executor run needs).
        # Measured on the x24 bench: also faster (no eager extra job).
        # Registered so release_span_caches() can free it once the
        # caller's action has run (long-lived sessions otherwise
        # accumulate one cached frame per dedup call).
        from pyspark.storagelevel import StorageLevel

        hot_pos = hot_pos.persist(StorageLevel.MEMORY_AND_DISK)
        _register_span_cache(hot_pos)
    # covered chunk positions, expanded per-row from the (tiny) arrays —
    # distinct by construction within a doc, no corpus-sized explode
    covered = hot_pos.select(
        id_col,
        F.explode(
            F.array_distinct(
                F.flatten(
                    F.transform(
                        "__hp",
                        lambda p: F.sequence(p, p + n_units - 1),
                    )
                )
            )
        ).alias("pos"),
    )
    affected = hot_pos.select(id_col)
    # affected docs: explode chunks, mark covered positions via the
    # join, one groupBy(id) rebuilds text in order (a doc whose every
    # chunk is covered still yields its row — the left join keeps all
    # chunk rows and concat_ws of zero survivors is "")
    hit = (
        base.join(affected, id_col, "left_semi")
        .select(id_col, F.posexplode("__chunks").alias("pos", "chunk"))
        .join(covered.withColumn("__cov", F.lit(True)), [id_col, "pos"], "left")
        .groupBy(id_col)
        .agg(
            F.concat_ws(
                "",
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.when(F.col("__cov").isNull(),
                                   F.struct("pos", "chunk"))
                        )
                    ),
                    lambda s: s["chunk"],
                ),
            ).alias(text_col),
            F.count("*").cast("long").alias(total_name),
            F.sum(F.when(F.col("__cov").isNotNull(), 1).otherwise(0))
            .cast("long").alias(removed_name),
        )
    )
    # untouched docs (the common case) stay map-only: no explode, no
    # shuffle — just the chunk concat and counts
    miss = base.join(affected, id_col, "left_anti").select(
        id_col,
        F.array_join("__chunks", "").alias(text_col),
        F.size("__chunks").cast("long").alias(total_name),
        F.lit(0).cast("long").alias(removed_name),
    )
    return hit.unionByName(miss)


def _text_buffer(tarr: pa.Array) -> tuple[np.ndarray, np.ndarray]:
    """(data, offsets) bytes of a string column: the zero-copy Arrow view
    when there is one, else the UTF-8 encoding with nulls as ""."""
    buf = arrow_string_buffer(tarr)
    if buf is not None:
        return buf
    enc = [("" if t is None else t).encode() for t in tarr.to_pylist()]
    off = np.zeros(len(enc) + 1, np.int64)
    np.cumsum([len(e) for e in enc], out=off[1:])
    return np.frombuffer(b"".join(enc), np.uint8), off


def _minhash_params(n_perm: int, seed: int = 7) -> tuple[np.ndarray, np.ndarray]:
    rng = np.random.default_rng(seed)
    a = rng.integers(1, (1 << 61) - 1, size=n_perm, dtype=np.uint64)
    b = rng.integers(0, (1 << 61) - 1, size=n_perm, dtype=np.uint64)
    return a, b


def _doc_windows(texts_buf, ngram_bytes: int):
    """Char-ngram window hashes of a (data, offsets) buffer, grouped by doc.

    Returns ``(h, seg_starts, doc_ids)``: the uint64 rolling hash (same as
    the embedder's, over ASCII-lowercased bytes) of every window that lies
    wholly inside one doc, in doc order; the start of each doc's run in
    ``h``; and that doc's row. Docs with no whole window have no run; all
    three are empty when no doc has one. Per-doc reductions are then one
    ``ufunc.reduceat(x, seg_starts)`` over contiguous runs — measured ~6x
    faster than the unbuffered element-at-a-time ``ufunc.at`` scatter.
    """
    data, offsets = texts_buf
    n = len(offsets) - 1
    data = np.asarray(data, dtype=np.uint8)[offsets[0] : offsets[-1]]
    offsets = np.asarray(offsets, dtype=np.int64) - offsets[0]
    empty = np.empty(0, np.uint64), np.empty(0, np.int64), np.empty(0, np.int64)
    if len(data) < ngram_bytes:
        return empty
    low = data.copy()
    mask = (low >= 65) & (low <= 90)
    low[mask] += 32
    h = rolling_hashes(low, ngram_bytes).astype(np.uint64)
    nwin = len(h)
    byte_tid = np.repeat(np.arange(n, dtype=np.int64), np.diff(offsets))
    tid = byte_tid[:nwin]
    valid = tid == byte_tid[ngram_bytes - 1 : ngram_bytes - 1 + nwin]
    h = h[valid]
    tid = tid[valid]
    if len(h) == 0:
        return empty
    seg_starts = np.concatenate(([0], np.nonzero(np.diff(tid))[0] + 1))
    return h, seg_starts, tid[seg_starts]


def _sig_block(texts_buf, n_perm: int, ngram_bytes: int, seed: int) -> np.ndarray:
    """(n, n_perm) uint64 minhash signatures from a (data, offsets) buffer.

    Docs with no whole window keep the uint64-max sentinel."""
    n = len(texts_buf[1]) - 1
    a, b = _minhash_params(n_perm, seed)
    out = np.full((n, n_perm), np.iinfo(np.uint64).max, dtype=np.uint64)
    h, seg_starts, doc_ids = _doc_windows(texts_buf, ngram_bytes)
    if len(h) == 0:
        return out
    x = np.empty_like(h)
    f = np.empty_like(h)
    M = np.uint64(_MERSENNE)
    for i in range(n_perm):
        # h_i(x) = (a_i * x + b_i) mod M, M = 2^61 - 1. The Mersenne
        # fold ((x >> 61) + (x & M), then one conditional subtract —
        # exact for any uint64 incl. the x & M == M edge) replaces the
        # 64-bit division with shift/and/add passes; results are
        # bit-identical to % (pinned by test_sig_block_mersenne_fold).
        np.multiply(a[i], h, out=x)          # uint64 wraparound, as before
        np.add(x, b[i], out=x)
        np.right_shift(x, np.uint64(61), out=f)
        np.bitwise_and(x, M, out=x)
        np.add(x, f, out=x)                  # x <= M + 7 now
        x[x >= M] -= M
        out[doc_ids, i] = np.minimum.reduceat(x, seg_starts)
    return out


def minhash_signatures(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_perm: int = 32,
    ngram_bytes: int = 8,
    seed: int = 7,
) -> DataFrame:
    """Append `sig: array<long>` minhash signatures (vectorized mapInArrow)."""
    out_schema = T.StructType(
        [df.schema[id_col], T.StructField("sig", T.ArrayType(T.LongType()), False)]
    )
    src = df.select(id_col, text_col)

    def gen(it: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in it:
            if batch.num_rows == 0:
                continue
            sig = _sig_block(
                _text_buffer(batch.column(1)), n_perm, ngram_bytes, seed
            ).astype(np.int64)
            offs = pa.array(
                np.arange(0, (batch.num_rows + 1) * n_perm, n_perm, dtype=np.int32)
            )
            yield pa.RecordBatch.from_arrays(
                [
                    batch.column(0),
                    pa.ListArray.from_arrays(offs, pa.array(sig.ravel(), pa.int64())),
                ],
                names=[id_col, "sig"],
            )

    return src.mapInArrow(gen, out_schema)


def _cap_buckets(banded: DataFrame, keys: list[str], max_bucket: int | None) -> DataFrame:
    """Drop rows in candidate buckets larger than ``max_bucket``.

    The quadratic LSH pathology: B identical/boilerplate docs share every
    bucket, so candidate generation emits B*(B-1)/2 pairs — at B=100k
    that is 5e9 pairs from ONE bucket, the canonical dedup production
    incident. Capping is a RECALL TRADE-OFF, stated plainly: a dropped
    bucket loses every pair that collides ONLY there, and while exact
    duplicates (run ``exact_dedup`` first) account for most giant
    buckets, templated near-dups that share a hot band/chunk value can
    also exceed the cap — those pairs are silently skipped. Use the cap
    to bound worst-case cost, not when completeness is the contract.
    The size count rides the same (bucket-key) partitioning the
    self-join needs — no extra exchange. Default (None) is uncapped:
    exact parity with the historical output.
    """
    if max_bucket is None:
        return banded
    if max_bucket < 2:
        raise ValueError(f"max_bucket ({max_bucket}) must be >= 2")
    from pyspark.sql import Window

    w = Window.partitionBy(*keys)
    return (
        banded.withColumn("__bsz", F.count("*").over(w))
        .where(F.col("__bsz") <= max_bucket)
        .drop("__bsz")
    )


def band_signatures(
    sigs: DataFrame, id_col: str, n_perm: int, bands: int
) -> DataFrame:
    """Project (id, sig) -> exploded (id, band, bh) LSH bucket keys.

    Pure JVM expression (transform + xxhash64 over signature slices) — no
    Python crossing, so deriving bands from a PERSISTED signature table is
    a projection over the parquet scan. Shared by the one-shot
    :func:`minhash_lsh_pairs` and the incremental
    :func:`~lyssandra_spark.operators.incremental.dedup_new_batch` (both
    sides must band identically or buckets would never collide).
    """
    rows_per_band = n_perm // bands
    return sigs.select(
        id_col,
        F.explode(
            F.expr(
                f"transform(sequence(0, {bands - 1}), b -> "
                f"struct(b AS band, xxhash64(slice(sig, b*{rows_per_band}+1, {rows_per_band})) AS bh))"
            )
        ).alias("bb"),
    ).select(id_col, F.col("bb.band").alias("band"), F.col("bb.bh").alias("bh"))


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_perm: int = 32,
    bands: int = 8,
    ngram_bytes: int = 8,
    threshold: float = 0.5,
    seed: int = 7,
    max_bucket: int | None = None,
) -> DataFrame:
    """Candidate near-dup pairs via banded MinHash LSH + exact-Jaccard-on-
    signature verification.

    Returns (id_a, id_b, est_jaccard) with id_a < id_b and
    est_jaccard >= threshold (est = fraction of agreeing minhashes, an
    unbiased Jaccard estimator). ``max_bucket`` (see :func:`_cap_buckets`)
    skips degenerate buckets — the guard against the quadratic
    identical-boilerplate blowup; run :func:`exact_dedup` first so capped
    buckets lose nothing.
    """
    if n_perm % bands != 0:
        raise ValueError(
            f"n_perm ({n_perm}) must be divisible by bands ({bands}); a "
            "remainder would silently exclude the trailing minhash values "
            "from every band while est_jaccard still divides by n_perm"
        )
    # One keyed exchange over the signature pass, read by the band
    # self-join and both verification joins: AQE materializes it once and
    # reuses it, because Spark reuses exchanges but never a Python
    # subplan. By column with no count, so AQE can coalesce it: a fixed
    # count hands the pairs to connected_components in that many
    # partitions and costs its zero-round exit. No cache: nothing outlives
    # the call. Over a cache()d input there is no reuse: AQE gives each
    # read of the in-memory relation its own cache stage, and exchanges
    # over different stages never compare equal, so the pass runs once
    # per read (4 per doc).
    sigs = minhash_signatures(
        df, id_col, text_col, n_perm, ngram_bytes, seed
    ).repartition(id_col)
    # Candidate generation explodes ONLY (id, band, bh): carrying the full
    # sig array (n_perm x 8 B) through the banded self-join would multiply
    # the shuffle width by bands x n_perm at 10^12 docs. Signatures are
    # re-joined below for surviving pairs only (2 narrow keyed joins beat
    # a bands-x-wider exchange).
    # xxhash64 hashes the array column directly — the earlier
    # to_json(struct(...)) round-trip built a JSON string per (row, band)
    # purely to feed the hash; equal slices hash equal either way (so true
    # candidates are identical) and 2^-64 cross-band collisions are noise
    # under the est_jaccard>=threshold verification.
    banded = band_signatures(sigs, id_col, n_perm, bands)
    banded = _cap_buckets(banded, ["band", "bh"], max_bucket)
    a = banded.alias("a")
    b = banded.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bh") == F.col("b.bh"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
        )
        .dropDuplicates(["id_a", "id_b"])
        .join(sigs.select(F.col(id_col).alias("id_a"), F.col("sig").alias("sig_a")),
              "id_a")
        .join(sigs.select(F.col(id_col).alias("id_b"), F.col("sig").alias("sig_b")),
              "id_b")
    )
    return (
        cand.withColumn("est_jaccard", est_jaccard(n_perm))
        .where(F.col("est_jaccard") >= threshold)
        .select("id_a", "id_b", "est_jaccard")
    )


def est_jaccard(n_perm: int):
    """Column expr: fraction of agreeing minhash positions between
    ``sig_a`` and ``sig_b`` — the unbiased Jaccard estimate. Shared by
    the full-corpus and incremental paths: both MUST estimate
    identically or the incremental-equals-full invariant silently breaks
    (same reason :func:`band_signatures` is shared)."""
    return (
        F.size(
            F.filter(
                F.zip_with("sig_a", "sig_b", lambda x, y: (x == y).cast("int")),
                lambda v: v == 1,
            )
        )
        / F.lit(n_perm)
    )


def shingle_set(toks_col: str = "toks", n: int = 3):
    """Column expr: distinct word n-gram shingles of an ALREADY tokenized
    column (e.g. ``word_tokens(...)`` projected as ``toks``).

    ``toks_col`` must be a plain column REFERENCE, not an expression:
    Spark does not common-subexpression-eliminate inside higher-order
    lambdas, so embedding the tokenization here would re-run it once per
    shingle position — the measured O(len^2) trap
    (:func:`lyssandra_spark.functions.lm.char_ngrams` documents the same
    contract; a 20 KB doc took 21 s under the embedded form). Callers
    project the tokens once and pass the column name; the transform is
    then O(n_tokens * n).
    """
    return F.array_distinct(
        F.expr(
            f"CASE WHEN size({toks_col}) < {n} THEN array() "
            f"ELSE transform(sequence(0, size({toks_col}) - {n}), "
            f"i -> concat_ws(' ', slice({toks_col}, i + 1, {n}))) END"
        )
    )


def _simhash_block(texts_buf, ngram_bytes: int) -> np.ndarray:
    """(n,) uint64 SimHashes from a (data, offsets) buffer.

    Bit b of a doc's hash is set iff more of its char-ngram window hashes
    have bit b set than clear (sum of +-1 over windows > 0, i.e.
    2 * ones > count). Docs with no whole window hash to 0. The per-bit
    counts are segment sums over the doc's windows, so the working set is
    O(windows).
    """
    val = np.zeros(len(texts_buf[1]) - 1, dtype=np.uint64)
    h32, seg_starts, doc_ids = _doc_windows(texts_buf, ngram_bytes)
    if len(h32) == 0:
        return val
    # widen to 64 bits deterministically
    h64 = (h32 * np.uint64(0x9E3779B97F4A7C15)) ^ (h32 << np.uint64(32))
    count = np.diff(np.append(seg_starts, len(h64)))
    bit = np.empty_like(h64)
    for b in range(64):
        np.right_shift(h64, np.uint64(b), out=bit)
        np.bitwise_and(bit, np.uint64(1), out=bit)
        ones = np.add.reduceat(bit, seg_starts).astype(np.int64)
        val[doc_ids] |= (2 * ones > count).astype(np.uint64) << np.uint64(b)
    return val


def simhash(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text",
    ngram_bytes: int = 4,
) -> DataFrame:
    """64-bit SimHash per document from rolling-hash char-ngram features.

    Vectorized mapInArrow; output (id, simhash:long). Hamming-close
    simhashes => near-duplicate texts.
    """
    out_schema = T.StructType(
        [df.schema[id_col], T.StructField("simhash", T.LongType(), False)]
    )
    src = df.select(id_col, text_col)

    def gen(it: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in it:
            if batch.num_rows == 0:
                continue
            val = _simhash_block(_text_buffer(batch.column(1)), ngram_bytes)
            yield pa.RecordBatch.from_arrays(
                [batch.column(0), pa.array(val.view(np.int64), pa.int64())],
                names=[id_col, "simhash"],
            )

    return src.mapInArrow(gen, out_schema)


def simhash_neardup_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_hamming: int = 3,
    ngram_bytes: int = 4,
) -> DataFrame:
    """Near-dup pairs by SimHash Hamming distance, scalably.

    Computes simhashes (vectorized mapInArrow) then pairs them via
    :func:`simhash_pairs_from_hashes` — see there for the pigeonhole
    banding argument. Output: (id_a, id_b, hamming) with id_a < id_b.
    """
    sh = simhash(df, id_col, text_col, ngram_bytes)
    return simhash_pairs_from_hashes(sh, id_col=id_col, max_hamming=max_hamming)


def simhash_bands(
    sh: DataFrame,
    id_col: str = "doc_id",
    hash_col: str = "simhash",
    max_hamming: int = 3,
) -> DataFrame:
    """Project (id, simhash) -> exploded (id, simhash, ci, cv) pigeonhole
    chunk keys — the simhash analogue of :func:`band_signatures`. Pure
    JVM expressions (shift/mask + explode), so banding a PERSISTED
    simhash table is a projection over the parquet scan; shared by the
    one-shot :func:`simhash_pairs_from_hashes` and the incremental
    :func:`~lyssandra_spark.operators.incremental.simhash_new_batch`
    (both sides must chunk identically or buckets never collide).
    """
    if not 1 <= max_hamming <= 31:
        raise ValueError(
            f"max_hamming ({max_hamming}) must be in [1, 31]: 0 would build "
            "a 64-bit chunk mask that overflows a Spark long literal; >= 32 "
            "gives 1-bit chunks (64 // (h+1) = 1 up to 63, 0 beyond) whose "
            "two-value buckets put ~half the corpus in each bucket — a "
            "near-all-pairs join in disguise"
        )
    n_chunks = max_hamming + 1
    width = 64 // n_chunks
    sh = sh.select(F.col(id_col), F.col(hash_col).alias("simhash"))
    # chunk c = bits [c*width, (c+1)*width) (last chunk takes the remainder)
    chunks = F.array(*[
        F.struct(
            F.lit(c).alias("ci"),
            F.shiftrightunsigned(F.col("simhash"), c * width).bitwiseAND(
                F.lit((1 << (width if c < n_chunks - 1 else 64 - c * width)) - 1)
            ).alias("cv"),
        )
        for c in range(n_chunks)
    ])
    return sh.select(id_col, "simhash", F.explode(chunks).alias("ch")).select(
        id_col, "simhash", F.col("ch.ci").alias("ci"), F.col("ch.cv").alias("cv")
    )


def simhash_pairs_from_hashes(
    sh: DataFrame,
    id_col: str = "doc_id",
    hash_col: str = "simhash",
    max_hamming: int = 3,
    max_bucket: int | None = None,
) -> DataFrame:
    """Pair precomputed 64-bit simhashes within ``max_hamming`` bits.

    Pigeonhole banding: split the 64-bit simhash into ``max_hamming + 1``
    contiguous chunks — two hashes within ``max_hamming`` bits of each
    other MUST agree exactly on at least one chunk, so candidates are a
    bucket-join on (chunk_idx, chunk_value), never all-pairs; exact
    Hamming verification (bit_count(xor), JVM-side) filters the bucket
    collisions. Exact recall by construction WHEN UNCAPPED: the output
    set equals the brute-force all-pairs Hamming filter. Setting
    ``max_bucket`` trades that guarantee for bounded cost (see
    :func:`_cap_buckets` — pairs colliding only in a dropped bucket are
    skipped). Output: (id_a, id_b, hamming) with id_a < id_b.
    """
    banded = simhash_bands(sh, id_col, hash_col, max_hamming)
    banded = _cap_buckets(banded, ["ci", "cv"], max_bucket)
    a = banded.alias("a")
    b = banded.alias("b")
    ham = F.bit_count(F.col("a.simhash").bitwiseXOR(F.col("b.simhash")))
    return (
        a.join(
            b,
            (F.col("a.ci") == F.col("b.ci"))
            & (F.col("a.cv") == F.col("b.cv"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .where(ham <= max_hamming)
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            ham.alias("hamming"),
        )
        .dropDuplicates(["id_a", "id_b"])
    )


def embedding_neardup_pairs(
    df: DataFrame,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
    dim: int = 64,
    n_planes: int = 16,
    min_cosine: float = 0.9,
    seed: int = 11,
    n_tables: int = 1,
    max_bucket: int | None = None,
) -> DataFrame:
    """Cosine near-dup pairs via random-hyperplane LSH + exact verification.

    Bucket key = sign sketch of ``n_planes`` random projections, stacked
    across ``n_tables`` independent plane-sets (seed sweep): a pair is a
    candidate if it collides in ANY table, so recall for genuine (not
    identical) near-dups is 1 - (1 - (1 - theta/pi)^n_planes)^n_tables —
    at cosine 0.95, n_planes=12, one table catches only ~27% of pairs;
    8 tables catch ~92%. Defaults keep the historical single-table
    behaviour.

    Scale shape: candidate generation explodes ONLY (id, table, bucket) —
    the 8*dim-byte embeddings are re-joined for surviving deduped pairs,
    exactly like minhash_lsh_pairs' slim-shuffle fix — and exact cosine
    verification of candidates is JVM-side.
    """
    from lyssandra_spark.operators.similarity import hyperplane_buckets

    if n_tables < 1:
        raise ValueError(f"n_tables ({n_tables}) must be >= 1")
    rng = np.random.default_rng(seed)
    e = df.select(
        F.col(id_col), F.col(emb_col).cast("array<double>").alias("emb")
    )
    # sign-sketch buckets for all tables in ONE scan (keep only the id:
    # candidate generation never ships embeddings); stacked draw == the
    # per-table sequential draws, so buckets match the historical shape
    planes = rng.standard_normal((n_tables, n_planes, dim))
    tagged = hyperplane_buckets(e, planes, "emb", keep=[id_col])
    tagged = _cap_buckets(tagged, ["tbl", "bucket"], max_bucket)
    a = tagged.alias("a")
    b = tagged.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.tbl") == F.col("b.tbl"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
        )
        .dropDuplicates(["id_a", "id_b"])
        .join(e.select(F.col(id_col).alias("id_a"), F.col("emb").alias("emb_a")),
              "id_a")
        .join(e.select(F.col(id_col).alias("id_b"), F.col("emb").alias("emb_b")),
              "id_b")
    )
    dotp = F.aggregate(
        F.zip_with("emb_a", "emb_b", lambda x, y: x * y), F.lit(0.0),
        lambda acc, x: acc + x,
    )
    nrm = lambda c: F.sqrt(  # noqa: E731
        F.aggregate(F.col(c), F.lit(0.0), lambda acc, x: acc + x * x)
    )
    return (
        cand.select(
            "id_a", "id_b",
            (dotp / (nrm("emb_a") * nrm("emb_b"))).alias("cosine"),
        )
        .where(F.col("cosine") >= min_cosine)
    )
