"""Distributed BM25 text retrieval (Okapi BM25 — Robertson et al.,
TREC-3, 1994; the scoring function behind classic search engines and the
lexical half of modern hybrid retrieval).

Completes the engine's search surface: the similarity module answers
"nearest by embedding", this module answers "most relevant by terms" —
the two retrieval modes a training-data platform actually runs (near-dup
mining vs targeted corpus queries like "find documents about X").

Spark-first shape (everything JVM, no Python crossing):

- postings are ONE explode + groupBy((doc, term)) with map-side partial
  counts — natural-language term skew is absorbed exactly like
  :func:`~lyssandra_spark.functions.textstats.token_frequencies`;
- corpus statistics are two scalars (row count, total token count, so
  avgdl covers ALL docs — standard Okapi); document frequencies / IDF
  are counted over the postings AFTER pruning to the query vocabulary
  (exact — df(t) only counts rows of term t — and never a
  full-vocabulary aggregation);
- queries are TINY next to the corpus: their distinct terms broadcast,
  so candidate generation is a broadcast-hash semi-join on term — only
  postings matching SOME query term ever shuffle again, keyed on
  (qid, doc) for the score sum, then one bounded per-qid top-k window.

At 100 TB nothing driver-side grows with corpus size: the only driver
results are two scalars (row count, avg doclen). The postings are
localCheckpoint-materialized once per call so the heavy shuffle never
re-runs across the stat/score actions; persist them through the catalog
instead and the per-query cost is just the broadcast join + windowed
top-k.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import Window

from lyssandra_spark.functions.textstats import word_tokens
from lyssandra_spark.sources.catalog import Watermark

__all__ = [
    "build_postings", "bm25_topk", "bm25_topk_indexed",
    "refresh_postings", "rrf_fuse", "hybrid_search_indexed",
]


def build_postings(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Term postings: (id, term, tf, doc_len) — one explode + ONE
    groupBy((id, term)) shuffle with map-side partials; ``doc_len`` (the
    document's total token count) rides along via a window-free
    sum-over-group trick: it is the sum of the doc's tfs, computed with
    a second small aggregation on the already-grouped postings (grouped
    rows, not raw tokens, so the heavy shuffle happens once)."""
    tf = (
        docs.select(id_col, F.explode(word_tokens(text_col)).alias("term"))
        .groupBy(id_col, "term")
        .agg(F.count("*").alias("tf"))
    )
    lens = tf.groupBy(id_col).agg(F.sum("tf").alias("doc_len"))
    return tf.join(lens, id_col)


def bm25_topk(
    docs: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "doc_id",
    text_col: str = "text",
    qid_col: str = "qid",
    qtext_col: str = "qtext",
    k1: float = 1.2,
    b: float = 0.75,
    broadcast_queries: bool = True,
) -> DataFrame:
    """Top-``k`` documents per query by Okapi BM25:

    ``score(q, d) = sum_t idf(t) * tf * (k1+1) / (tf + k1 * (1 - b + b * len_d / avg_len))``

    with the standard smoothed ``idf(t) = ln(1 + (N - df + 0.5) /
    (df + 0.5))``. Repeated query terms count once (set-of-terms
    semantics — the common practice for short queries). ``avg_len`` is
    the standard Okapi avgdl over ALL ``N`` corpus documents — a doc
    that tokenizes to nothing counts as length 0, so the length
    statistic and the IDF's ``N`` always describe the same document
    universe. Returns (qid, id, bm25, rk) with deterministic ties
    (score desc, id asc).

    Plan: postings from the corpus (see :func:`build_postings`), query
    terms DISTINCT + broadcast, broadcast-hash semi-join prunes the
    postings to matching terms BEFORE document frequencies are counted
    (df of a term is unchanged by dropping other terms' rows, so IDF is
    exact and no full-vocabulary aggregation ever runs), one (qid, id)
    keyed aggregation, one bounded per-qid top-k window.
    """
    if k < 1:
        raise ValueError(f"k ({k}) must be >= 1")
    # localCheckpoint materializes the heavy (doc, term) shuffle ONCE:
    # the avg-doclen scalar, the IDF aggregation, and the final scored
    # action all read the checkpointed blocks instead of re-running the
    # corpus explode+groupBy per Spark action (same pattern as the
    # iterative graph ops). n_docs is a plain row count of the input —
    # no distinct exchange (one row per doc is this operator's input
    # contract, as for every id-keyed operator here).
    post = build_postings(docs, id_col, text_col).localCheckpoint(eager=True)
    n_docs = docs.count()
    if n_docs == 0:
        raise ValueError("bm25_topk requires a non-empty corpus")
    # sum of per-(doc, term) tfs IS the corpus token total — no distinct
    # exchange; avgdl = total / N over ALL docs (zero-token docs count
    # as length 0: the standard Okapi avgdl convention)
    total_len = post.agg(F.sum("tf")).collect()[0][0]
    if total_len is None:
        # non-empty corpus but ZERO tokens anywhere (all-null/empty/
        # punctuation-only text): nothing is retrievable — say so
        # instead of an opaque float(None) TypeError below
        raise ValueError(
            "bm25_topk: no document in the corpus tokenizes to any term "
            "(all text null/empty/non-alphanumeric)"
        )
    avg_len = float(total_len) / float(n_docs)
    qterms = (
        queries.select(
            qid_col, F.explode(word_tokens(qtext_col)).alias("term")
        )
        .distinct()  # set-of-terms query semantics
    )
    return _score_postings(
        post, qterms, n_docs, avg_len, k,
        id_col=id_col, qid_col=qid_col, k1=k1, b=b,
        broadcast_queries=broadcast_queries,
    )


def _score_postings(
    post: DataFrame,
    qterms: DataFrame,
    n_docs: int,
    avg_len: float,
    k: int,
    id_col: str = "doc_id",
    qid_col: str = "qid",
    k1: float = 1.2,
    b: float = 0.75,
    broadcast_queries: bool = True,
) -> DataFrame:
    """Score pruned postings against distinct (qid, term) query rows —
    the shared tail of :func:`bm25_topk` and :func:`bm25_topk_indexed`.

    The query vocabulary (by default broadcast) SEMI-JOIN-prunes the
    postings first; document frequencies (hence IDF) are then counted
    over the pruned rows — exact, because df(t) only ever counts rows
    of term t. One (qid, id) aggregation, one bounded per-qid top-k
    window; the only corpus-sized shuffle is the pruned-postings score
    aggregation. ``broadcast_queries=False`` is the corpus-scale query
    workload setting (a million-query batch's vocabulary must not be
    forced through a broadcast): the prune and score joins become
    shuffle joins on term, with AQE free to pick broadcast back if the
    vocabulary turns out small — results identical (pytest-pinned).
    """
    bcast = F.broadcast if broadcast_queries else (lambda df: df)
    uterms = qterms.select("term").distinct()
    pruned = post.join(bcast(uterms), "term", "left_semi")
    idf = (
        pruned.groupBy("term")
        # postings are unique per (doc, term): a plain count IS the
        # document frequency — no two-phase distinct aggregate needed
        .agg(F.count("*").alias("df"))
        .withColumn(
            "idf",
            F.log(
                F.lit(1.0)
                + (F.lit(float(n_docs)) - F.col("df") + 0.5)
                / (F.col("df") + 0.5)
            ),
        )
        .select("term", "idf")
    )
    tf_part = (
        F.col("tf") * (k1 + 1)
        / (
            F.col("tf")
            + k1 * (1 - b + b * F.col("doc_len") / F.lit(float(avg_len)))
        )
    )
    scored = (
        pruned.join(bcast(qterms), "term")
        .join(bcast(idf), "term")
        .groupBy(qid_col, id_col)
        .agg(F.round(F.sum(F.col("idf") * tf_part), 6).alias("bm25"))
    )
    w = Window.partitionBy(qid_col).orderBy(
        F.col("bm25").desc(), F.col(id_col).asc()
    )
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= k)
    )


def refresh_postings(
    catalog,
    src_table: str,
    postings_table: str,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> int:
    """Incremental BM25 index maintenance: keep ``postings_table`` equal
    to :func:`build_postings` over ``src_table``'s full chain by folding
    ONLY the source snapshots appended since the last refresh — the
    production answer to :func:`bm25_topk` re-scanning the corpus per
    call. Same shape as
    :func:`~lyssandra_spark.operators.incremental.refresh_aggregate`:
    the postings snapshot meta records ``postings_last_snap`` (newest
    source snapshot folded) plus ``n_docs`` (TOTAL docs folded, counted
    from the source — zero-token docs leave no postings row but must
    still count toward Okapi's N and avgdl denominators). Returns the
    postings table's snapshot id.

    Why appends suffice (no keyed merge): a (doc, term) tf row belongs
    to exactly one document, and each document arrives in exactly one
    source snapshot — delta postings never collide with indexed rows,
    so each batch is ``build_postings(delta)`` landed as one APPEND.
    Doc identity is the id (the :func:`~lyssandra_spark.operators
    .incremental.dedup_new_batch` convention): re-ingested ids are
    anti-joined out against the indexed ids before signing, so
    re-feeding yesterday's docs can't double tfs. A doc that tokenizes
    to NOTHING lands a SENTINEL row (term NULL, tf 0, doc_len 0), so
    the id set in the index is exactly the doc universe: re-ingesting a
    zero-token id is caught by the same anti-join and ``n_docs`` stays
    exact under all re-ingest patterns (sentinels never score — a NULL
    term equality-matches no query term — and contribute 0 to the token
    total, so avgdl is untouched). A source OVERWRITE resets its chain:
    detected via the chain-start snapshot id, triggering a full rebuild
    instead of folding deltas onto stale rows — EXCEPT a ``compact()``
    whose folded snapshots were all already indexed, which is
    audit-only for this consumer (no rebuild, skipped by the delta
    scan; see :func:`~lyssandra_spark.sources.catalog
    .incremental_chain_start`). A delta snapshot whose
    DATA was reclaimed by ``expire()`` before this refresh saw it also
    routes to the full rebuild (the cumulative chain still serves every
    live row) rather than dying on the incremental scan.

    At 100 TB: per batch this scans ONLY the delta snapshots' text (one
    explode + one (doc, term) count shuffle over the delta), one
    column-pruned delta count, and one distinct-id scan of the indexed
    postings for the re-ingest guard; the corpus text is never re-read.
    """
    spec = {"src": src_table, "id_col": id_col, "text_col": text_col}
    wm = Watermark(catalog, src_table, postings_table, "postings", spec,
                   role="postings")
    if wm.rebuild:
        # first build, a source chain overwritten under us, or an
        # expired delta (above). Duplicate-id collapse must be
        # DETERMINISTIC (dropDuplicates keeps a partitioning-dependent
        # winner): take the minimum text per id. Ids re-ingested with a
        # DIFFERENT text are invalid input by contract (see above), so
        # for valid corpora this is the identity; for invalid ones the
        # index is at least stable across reruns (though the winner may
        # differ from the incremental path's first-ingested row).
        docs = (
            catalog.read(src_table)
            .groupBy(id_col)
            .agg(F.min(text_col).alias(text_col))
        )
        n_docs = docs.count()
        return catalog.write(
            _postings_with_sentinels(docs, id_col, text_col),
            postings_table,
            mode="overwrite",
            # SORT ORDER on term: parquet row-group min/max stats then
            # prune the query-vocabulary scans bm25_topk_indexed runs —
            # a query touches a handful of terms, so a term-clustered
            # layout skips most of the index per query (no extra
            # shuffle: sortWithinPartitions only)
            sort_by=["term"],
            meta=wm.stamp(n_docs=n_docs),
        )
    if wm.noop:
        return wm.snaps[-1]["id"]
    n_docs = wm.meta["n_docs"]
    delta = wm.delta([id_col, text_col])
    if delta is None:
        # everything new was an audit-only compaction: watermark only
        return wm.advance(n_docs=n_docs)
    # re-ingest guard: an id already in the index must not land a second
    # set of tf rows (they would read as doubled term frequencies).
    # Sentinel rows put zero-token ids in this set too, so N is exact.
    delta = wm.unindexed(delta, id_col)
    n_new = delta.count()
    if n_new == 0:
        return wm.advance(n_docs=n_docs)  # ids all re-ingested
    return catalog.write(
        _postings_with_sentinels(delta, id_col, text_col), postings_table,
        mode="append",
        sort_by=["term"],  # per-snapshot term clustering (see rebuild)
        meta=wm.stamp(n_docs=n_docs + n_new),
    )


def _postings_with_sentinels(
    docs: DataFrame, id_col: str, text_col: str
) -> DataFrame:
    """:func:`build_postings` plus one SENTINEL row (term NULL, tf 0,
    doc_len 0) per doc that tokenizes to nothing — the persisted form
    :func:`refresh_postings` writes so the postings id set IS the doc
    universe. Sentinels are inert downstream: a NULL term never
    equality-matches a query term (so they are pruned before df/IDF and
    never score) and tf 0 adds nothing to the token total (avgdl
    exact). The zero-token ids are the delta's ids anti-joined against
    its own postings — one extra pass over the (already small) delta.
    """
    post = build_postings(docs, id_col, text_col)
    zero = docs.select(id_col).join(
        post.select(id_col).distinct(), id_col, "left_anti"
    )
    sentinels = zero.select(
        id_col,
        F.lit(None).cast("string").alias("term"),
        F.lit(0).cast("long").alias("tf"),
        F.lit(0).cast("long").alias("doc_len"),
    )
    return post.unionByName(sentinels)


def bm25_topk_indexed(
    catalog,
    postings_table: str,
    queries: DataFrame,
    k: int = 10,
    qid_col: str = "qid",
    qtext_col: str = "qtext",
    k1: float = 1.2,
    b: float = 0.75,
    broadcast_queries: bool = True,
) -> DataFrame:
    """:func:`bm25_topk` semantics served from a PERSISTED postings
    index (maintained by :func:`refresh_postings`) — the corpus text is
    never touched: the plan reads the postings parquet, prunes it to
    the broadcast query vocabulary, re-derives IDF/avgdl from the
    pruned rows + the manifest's ``n_docs``, and runs the same bounded
    score/top-k tail (:func:`_score_postings`). Bit-identical to
    ``bm25_topk`` over the same corpus (pytest-pinned), because tf,
    df, N, and total length are all exactly reconstructable from the
    index. Unlike the corpus path's localCheckpoint, the heavy shuffle
    result here survives executor loss — it IS the catalog table.
    """
    if k < 1:
        raise ValueError(f"k ({k}) must be >= 1")
    snaps = catalog.snapshots(postings_table)
    if not snaps:
        raise FileNotFoundError(
            f"no snapshots for postings table {postings_table!r} — run "
            "refresh_postings first"
        )
    meta = catalog.latest_meta(postings_table, "n_docs") or {}
    n_docs = meta.get("n_docs")
    # `is None`, not falsy: n_docs == 0 IS refresh_postings meta (empty
    # source) and must reach the accurate empty-postings error below
    if n_docs is None:
        raise ValueError(
            f"postings table {postings_table!r} has no n_docs meta — it "
            "was not written by refresh_postings"
        )
    spec = meta.get("postings_spec", {})
    id_col = spec.get("id_col", "doc_id")
    post = catalog.read(postings_table).select(id_col, "term", "tf", "doc_len")
    # avgdl from the index: sum of tfs is the corpus token total (the
    # aggregation runs over grouped postings rows, never raw tokens)
    total_len = post.agg(F.sum("tf")).collect()[0][0]
    # None = zero rows; 0 = sentinel rows only (every doc tokenized to
    # nothing) — either way nothing is retrievable
    if not total_len:
        raise ValueError(
            "bm25_topk_indexed: postings table is empty (no document "
            "tokenized to any term)"
        )
    avg_len = float(total_len) / float(n_docs)
    qterms = (
        queries.select(
            qid_col, F.explode(word_tokens(qtext_col)).alias("term")
        )
        .distinct()
    )
    return _score_postings(
        post, qterms, n_docs, avg_len, k,
        id_col=id_col, qid_col=qid_col, k1=k1, b=b,
        broadcast_queries=broadcast_queries,
    )


def rrf_fuse(
    rankings: list,
    k: int = 10,
    c: int = 60,
    qid_col: str = "qid",
    id_col: str = "doc_id",
    rank_col: str = "rk",
) -> DataFrame:
    """Reciprocal-rank fusion of per-query rankings (Cormack, Clarke &
    Buettcher, SIGIR 2009): ``score(d) = sum_r 1 / (c + rank_r(d))`` —
    the standard way to combine BM25 and embedding-ANN result lists into
    one hybrid ranking WITHOUT calibrating their incomparable scores
    (rank is the only thing fused; ``c=60`` is the paper's constant).

    Each input is any DataFrame with (qid, id, rank) columns under the
    given names — :func:`bm25_topk` output directly, an ANN top-k with
    its id column renamed, or any other ranker. Ranks are 1-BASED
    (row_number semantics — shift a 0-based ranker before fusing). A
    document missing from one ranking simply contributes nothing from
    it (the RRF convention). Returns (qid, id, rrf_score, rk),
    deterministic ties by id.

    Plan: union the (qid, id, rank) projections (plan-level, no
    shuffle), ONE (qid, id) aggregation, one bounded per-qid top-k
    window — input rankings are already top-k-bounded upstream, so the
    fused aggregation touches at most ``sum_r k_r`` rows per query.
    """
    if not rankings:
        raise ValueError("rankings must be non-empty")
    if k < 1:
        raise ValueError(f"k ({k}) must be >= 1")
    if c < 1:
        # c=0 with a 0-based rank list divides by zero, which Spark
        # (non-ANSI) evaluates to NULL — the top document's contribution
        # would silently vanish from the sum
        raise ValueError(f"c ({c}) must be >= 1")
    u = None
    for r in rankings:
        piece = r.select(
            qid_col,
            id_col,
            (F.lit(1.0) / (F.lit(float(c)) + F.col(rank_col)))
            .alias("__contrib"),
        )
        u = piece if u is None else u.unionByName(piece)
    fused = (
        u.groupBy(qid_col, id_col)
        .agg(F.round(F.sum("__contrib"), 8).alias("rrf_score"))
    )
    w = Window.partitionBy(qid_col).orderBy(
        F.col("rrf_score").desc(), F.col(id_col).asc()
    )
    return (
        fused.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= k)
    )


def hybrid_search_indexed(
    catalog,
    postings_table: str,
    ann_table: str,
    queries: DataFrame,
    k: int = 10,
    c: int = 60,
    qid_col: str = "qid",
    qtext_col: str = "qtext",
    qemb_col: str = "qemb",
    ann_method: str = "ivfpq",
    doc_col: str = "doc_id",
    bm25_kwargs: dict | None = None,
    ann_kwargs: dict | None = None,
) -> DataFrame:
    """One-call hybrid retrieval ENTIRELY from persisted state: BM25
    over the postings index (:func:`refresh_postings`) fused by
    reciprocal rank (:func:`rrf_fuse`) with embedding ANN over a
    persisted vector index (`ann_method` picks ``'ivf'`` / ``'pq'`` /
    ``'ivfpq'`` — the :mod:`~lyssandra_spark.operators.ann_index`
    serves, including their corpus-scale distributed routing). The
    corpus text and vectors are never re-scanned beyond what each
    index serve reads; this is the steady-state production shape of
    "find documents about X" — maintain both indexes incrementally per
    ingest batch, serve hybrid queries from them alone.

    ``queries`` carries (``qid_col``, ``qtext_col``, ``qemb_col``) —
    one row per query with both its lexical and its embedding form.
    Both indexes must cover the SAME document universe under
    ``doc_col`` ids (the ANN index's id column is renamed to
    ``doc_col`` for the fusion; its name is read from the index spec).
    Output: :func:`rrf_fuse`'s (qid, doc, rrf, rk) top-``k``.
    Composition is exactly ``rrf_fuse([bm25_topk_indexed(...),
    <ann>_topk_indexed(...)], ...)`` — pytest-pinned, so anything
    proven about the parts (bit-parity with per-call operators,
    no-corpus-scan plans) transfers to the whole."""
    from lyssandra_spark.operators import ann_index as _ai

    serves = {
        "ivf": (_ai.ivf_topk_indexed, "ivf_spec"),
        "pq": (_ai.pq_topk_indexed, "pq_spec"),
        "ivfpq": (_ai.ivfpq_topk_indexed, "ivfpq_spec"),
    }
    if ann_method not in serves:
        raise ValueError(
            f"ann_method {ann_method!r} — pick one of {sorted(serves)}"
        )
    serve, spec_key = serves[ann_method]
    lex = bm25_topk_indexed(
        catalog, postings_table, queries.select(qid_col, qtext_col),
        k=k, qid_col=qid_col, qtext_col=qtext_col,
        **(bm25_kwargs or {}),
    )
    spec = (catalog.latest_meta(ann_table, spec_key) or {}).get(
        spec_key, {}
    )
    ann_id = spec.get("id_col", "vec_id")
    ann_emb = spec.get("emb_col", "embedding")
    qvec = queries.select(
        F.col(qid_col).alias(ann_id), F.col(qemb_col).alias(ann_emb)
    )
    ann = (
        serve(catalog, ann_table, qvec, k=k, **(ann_kwargs or {}))
        .withColumnRenamed("qid", qid_col)
        .withColumnRenamed(ann_id, doc_col)
    )
    return rrf_fuse([lex, ann], k=k, c=c, qid_col=qid_col,
                    id_col=doc_col, rank_col="rk")
