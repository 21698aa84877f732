"""Ranking extensions over the persisted index: positional proximity,
RM3-style pseudo-relevance feedback, and learning-to-rank features.

The reference engine's only ranking signal is fragment cover density
(/root/reference/sql/ts_fast_headline_cover_density.sql:96); these are
engine additions in the bm25_topk spirit — the query-time ranking
features a search page and an LTR training pipeline layer on top of a
fulltext index.

Scale notes (the 100 TB contract):

- ``min_span_docs`` is ONE window per candidate set (partition by
  doc_id, order by pos, k running aggregates inside a single window
  spec — one sort, no self-join, no quadratic blowup). Positions are
  decoded only for candidate docs/blocks: `_positions_hay` prunes the
  scan to doc-id IN-literals or block semi-joins BEFORE any
  explode/decode, so the window input is O(candidates × query tf),
  never the corpus.
- ``proximity_rerank`` = top-`depth` BM25 (the bucket-pruned postings
  plan) + min-span over ≤ depth docs: rerank cost is
  independent of corpus size, which is the only shape that survives at
  10^12 docs (computing spans corpus-wide before ranking would decode
  every posting).
- ``rm3_expand`` point-reads the feedback docs' recall vectors
  (parquet row-group min/max pruning on doc_id literals — the
  more_like_this_by_id trick) and selects expansion terms DRIVER-side
  with an integer-only rule (tf desc, df asc, term asc), so feedback
  never scans the corpus and there is no cross-engine float-tie risk
  in which terms get picked. The expanded retrieval is one more
  bucket-pruned postings scan.
- ``ltr_features`` shares bm25_topk's single pruned-scan shape and
  emits integer-dominant features; the BM25 feature uses the
  fixed-order per-term summation from bm25_topk_paged, so feature
  files regenerate bit-identically across runs — training-data
  reproducibility is a feature contract, not a nicety.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .index_build import Index
from .query_compiler import CompiledQuery
from .search import (_idf_lookup, _positions_hay, _pruned_postings,
                     _scored, bm25_topk)

__all__ = ["min_span_docs", "proximity_rerank", "rm3_expand",
           "prf_search", "ltr_features", "rank_metrics", "slop_match_docs",
           "ts_rank_cd", "ts_rank"]


def _terms_of(query) -> list[str]:
    if isinstance(query, CompiledQuery):
        return sorted(set(query.lexemes))
    return sorted(set(query))


def _expanded(index, query):
    """Normalize a ':*' prefix query against this index before any term
    extraction — every index-backed ranking entry calls this first, so a
    prefix query never silently degrades to its bare lexeme."""
    if isinstance(query, CompiledQuery) and query.has_prefixes:
        from .search import expand_query_prefixes
        return expand_query_prefixes(index, query)
    return query


# PG tsrank.c's normalization bitmask (RANK_NORM_*): 1 log-length,
# 2 length, 4 extent distance (ts_rank_cd only), 8 unique-word count,
# 16 log-unique-word count, 32 rank/(rank+1). Flags compose.
_NORM_ALL = 1 | 2 | 4 | 8 | 16 | 32


def _check_normalization(normalization: int) -> int:
    n = int(normalization)
    if n < 0 or (n & ~_NORM_ALL):
        raise ValueError(
            "normalization must be a bitmask over {1,2,4,8,16,32} "
            f"(PG's ts_rank flags, composable), got {normalization}")
    return n


def _doc_uniq(index: Index, ranked: DataFrame) -> DataFrame:
    """(doc_id, _nuniq): distinct-lexeme count per ranked doc — PG's
    ``txt->size`` for normalization flags 8/16. ONE postings aggregate
    semi-joined to the ranked docs with columns pruned to
    (doc_id, term); its cost scales with the candidate docs' postings,
    so pass `candidate_ids`/`candidate_docs` on big corpora (the
    proximity_rerank shape) rather than ranking corpus-wide with these
    flags."""
    return (index.postings.select("doc_id", "term")
            .join(ranked.select("doc_id").distinct(),
                  on="doc_id", how="left_semi")
            .groupBy("doc_id")
            .agg(F.count_distinct("term").cast("long").alias("_nuniq")))


def _apply_normalization(index: Index, ranked: DataFrame, raw,
                         n: int) -> DataFrame:
    """Fold PG's normalization flags over the raw rank, in tsrank.c's
    application order (1, 2, [4 pre-joined by the caller], 8, 16, 32).
    `ranked` holds (doc_id, rank_e6) plus, when flag 4 applies,
    `_next`/`_sumdist_e9` extent stats. Divisor conventions follow the
    engine's documented forms (flags 1/16 use 1+ln(x), the PG-docs
    phrasing, where tsrank.c itself mixes ln and log2 — a documented
    deviation); flag 4 divides by the mean harmonic distance between
    extent midpoints, NExtent / Σ 1/gap, exactly tsrank.c's
    RANK_NORM_EXTDIST with the gap sum e9-quantized so the float rank
    is addition-order-free like rank_e6."""
    expr = raw
    out = ranked
    if n & (1 | 2):
        out = out.join(index.tokens.select("doc_id", "dl"), on="doc_id")
        if n & 1:
            expr = expr / (F.lit(1.0) + F.log(F.col("dl")))
        if n & 2:
            expr = expr / F.col("dl").cast("double")
    if n & 4 and "_sumdist_e9" in out.columns:
        # divisor = NExtent / SumDist; applied only when ≥2 extents with
        # positive midpoint gaps exist (PG: NExtent > 0 && SumDist > 0)
        expr = F.when(
            F.col("_sumdist_e9").isNotNull() & (F.col("_sumdist_e9") > 0),
            expr * (F.col("_sumdist_e9") / F.lit(1e9))
            / F.col("_next").cast("double")).otherwise(expr)
    if n & (8 | 16):
        out = out.join(_doc_uniq(index, ranked), on="doc_id")
        if n & 8:
            expr = expr / F.col("_nuniq").cast("double")
        if n & 16:
            expr = expr / (F.lit(1.0) + F.log(F.col("_nuniq")
                                              .cast("double")))
    if n & 32:
        expr = expr / (expr + F.lit(1.0))
    return out.select("doc_id", "rank_e6", expr.alias("rank"))


def min_span_docs(
    index: Index,
    terms: list[str],
    candidate_ids: list | None = None,
    candidate_docs: DataFrame | None = None,
) -> DataFrame:
    """(doc_id, span): the length in token positions of the smallest
    window containing EVERY query term at least once. Docs missing any
    term produce no row.

    Streaming formulation (one ordered pass, not the quadratic
    all-windows join): walking positions in order, the best window
    ending at position p is ``p - min_t last_pos_t + 1`` once every
    term has been seen — so k running ``max(CASE term)`` aggregates
    inside ONE window spec give every candidate window, and a plain
    min-aggregate picks the answer. Single sort per doc partition,
    whole-stage codegen throughout, no UDF.
    """
    ts = sorted(set(terms))
    spark = index.postings.sparkSession
    if not ts:
        return spark.createDataFrame([], "doc_id long, span int")
    hay = _positions_hay(index, ts, candidate_docs=candidate_docs,
                         candidate_ids=candidate_ids)
    # the packed path prunes to BLOCKS (span-sized doc ranges), so
    # block-mates of the candidates ride along the decode — re-filter to
    # the exact candidate set (row-positions mode already did this; the
    # predicate is a no-op there)
    if candidate_ids is not None:
        hay = hay.where(F.col("doc_id").isin([int(d)
                                              for d in candidate_ids]))
    elif candidate_docs is not None:
        hay = hay.join(F.broadcast(candidate_docs.select("doc_id")),
                       on="doc_id", how="left_semi")
    w = (Window.partitionBy("doc_id").orderBy("pos")
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    lasts = [F.max(F.when(F.col("term") == F.lit(t), F.col("pos"))).over(w)
             .alias(f"_p{i}") for i, t in enumerate(ts)]
    rows = hay.select("doc_id", "pos", *lasts)
    pcols = [F.col(f"_p{i}") for i in range(len(ts))]
    seen_all = pcols[0].isNotNull()
    for c in pcols[1:]:
        seen_all = seen_all & c.isNotNull()
    if len(ts) == 1:
        span = F.lit(1)
    else:
        span = F.col("pos") - F.least(*pcols) + F.lit(1)
    return (rows.where(seen_all)
            .groupBy("doc_id")
            .agg(F.min(span).cast("int").alias("span")))


def slop_match_docs(
    index: Index,
    terms: list[str],
    slop: int = 0,
    candidate_ids: list | None = None,
    candidate_docs: DataFrame | None = None,
) -> DataFrame:
    """Proximity phrase matching with slack — Elasticsearch's
    `match_phrase` slop semantics in their UNORDERED reading: a doc
    matches when some window of ≤ len(terms) + slop token positions
    holds every query term (slop=0 = all terms adjacent in some order).
    PG tsquery can say `a <-> b` (exact gap) but has no "near each
    other, any order" operator; this is that operator over the
    persisted index. Returns (doc_id, span) for matching docs —
    span ≤ len(terms) + slop — a thin threshold over `min_span_docs`'
    single-window plan (same pruned positional scan, no extra pass)."""
    if slop < 0:
        raise ValueError("slop must be >= 0")
    ts = sorted(set(terms))
    spans = min_span_docs(index, ts, candidate_ids=candidate_ids,
                          candidate_docs=candidate_docs)
    return spans.where(F.col("span") <= len(ts) + int(slop))


def ts_rank_cd(
    index: Index,
    query: CompiledQuery | list[str],
    candidate_ids: list | None = None,
    candidate_docs: DataFrame | None = None,
    normalization: int = 0,
) -> DataFrame:
    """Cover-density document ranking — PG's `ts_rank_cd` shape (Clarke,
    Cormack & Tudhope 2000, the formula at the core of tsrank.c's
    calc_rank_cd, without PG's per-position weight classes):

        rank = Σ over minimal covers c of  1 / width(c)

    where a *minimal cover* is a window holding every query term that
    contains no smaller such window. Returns (doc_id, rank_e6, rank):
    `rank_e6` is the exact integer Σ round(1e6/width) — addition-order-
    free, so bit-identical across runs, partitionings, and engines (the
    rank_metrics trick) — and `rank` is the float form after
    `normalization`: PG's full composable bitmask — 1 ÷(1+ln dl), 2 ÷dl,
    4 ÷ mean harmonic distance between extent midpoints (tsrank.c's
    RANK_NORM_EXTDIST; no-op when fewer than two extents have positive
    gaps), 8 ÷ distinct-lexeme count, 16 ÷(1+ln distinct-lexeme count),
    32 r/(r+1), applied in that order. Flags 8/16 add one
    candidate-narrowed postings aggregate (see `_doc_uniq`).

    Cover extraction reuses min_span_docs' streaming formulation: with
    running per-term last-position maxes inside ONE window spec,
    l(p) = least(lasts) is non-decreasing in p, so the minimal covers
    are exactly {(l, min p) per distinct l} — one sort per doc
    partition, one aggregate, no self-join, no UDF. Positions decode
    only for candidate docs/blocks (`_positions_hay`), so cost is
    O(candidates × query tf) like every other ranking operator here.
    """
    query = _expanded(index, query)
    norm = _check_normalization(normalization)
    ts = _terms_of(query)
    spark = index.postings.sparkSession
    out_schema = "doc_id long, rank_e6 long, rank double"
    if not ts:
        return spark.createDataFrame([], out_schema)
    hay = _positions_hay(index, ts, candidate_docs=candidate_docs,
                         candidate_ids=candidate_ids)
    if candidate_ids is not None:
        hay = hay.where(F.col("doc_id").isin([int(d)
                                              for d in candidate_ids]))
    elif candidate_docs is not None:
        hay = hay.join(F.broadcast(candidate_docs.select("doc_id")),
                       on="doc_id", how="left_semi")
    w = (Window.partitionBy("doc_id").orderBy("pos")
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    lasts = [F.max(F.when(F.col("term") == F.lit(t), F.col("pos"))).over(w)
             .alias(f"_p{i}") for i, t in enumerate(ts)]
    rows = hay.select("doc_id", "pos", *lasts)
    pcols = [F.col(f"_p{i}") for i in range(len(ts))]
    seen_all = pcols[0].isNotNull()
    for c in pcols[1:]:
        seen_all = seen_all & c.isNotNull()
    left = pcols[0] if len(ts) == 1 else F.least(*pcols)
    covers = (rows.where(seen_all)
              .select("doc_id", left.alias("l"), "pos")
              .groupBy("doc_id", "l")
              .agg(F.min("pos").alias("p")))
    summand = F.round(F.lit(1_000_000.0)
                      / (F.col("p") - F.col("l") + 1)).cast("long")
    if norm & 4:
        # extent stats for RANK_NORM_EXTDIST: midpoints of the minimal
        # covers in position order, Σ 1/(gap) over consecutive pairs with
        # a positive gap (tsrank.c tracks PrevExtPos across ALL extents,
        # so lag() over every midpoint — not just the positive-gap ones —
        # is the faithful shape). e9-quantized integer sum: order-free.
        # Rank and extent stats come out of ONE groupBy over the cover
        # rows: a separate extagg branch + join would re-evaluate the
        # covers lineage (positions explode + running-max window — the
        # operator's most expensive stage) once per branch.
        wext = Window.partitionBy("doc_id").orderBy("_mid")
        ext = (covers
               .withColumn("_mid", (F.col("l") + F.col("p")) / F.lit(2.0))
               .withColumn("_prev", F.lag("_mid").over(wext)))
        ranked = ext.groupBy("doc_id").agg(
            F.sum(summand).alias("rank_e6"),
            F.count("*").cast("long").alias("_next"),
            F.sum(F.when(F.col("_prev").isNotNull()
                         & (F.col("_mid") > F.col("_prev")),
                         F.round(F.lit(1e9)
                                 / (F.col("_mid") - F.col("_prev")))
                         .cast("long"))).alias("_sumdist_e9"))
    else:
        ranked = (covers.groupBy("doc_id")
                  .agg(F.sum(summand).alias("rank_e6")))
    raw = F.col("rank_e6") / 1e6
    return _apply_normalization(index, ranked, raw, norm)


def _query_items(query) -> list[str]:
    """Query lexemes AS A MULTISET in tree order — PG's ts_rank iterates
    every QI_VAL item of the query (duplicates count, and lexemes under
    NOT still contribute), so this walks the whole boolean tree."""
    if isinstance(query, CompiledQuery):
        items: list[str] = []

        def walk(n):
            if n is None:
                return
            if n.op == "phrase":
                items.extend(lex for lex, _ in n.phrase.items)
            else:
                for c in n.children:
                    walk(c)

        walk(query.root)
        return items
    return list(query)


def _tsrank_variant(query, variant: str) -> str:
    """PG's calc_rank dispatch: the AND form runs only when the query's
    TOP operator is AND or a multi-lexeme phrase; everything else
    (single word, OR, NOT at the top) takes the OR form. A plain term
    list has no operator — 'auto' reads it as OR."""
    if variant != "auto":
        return variant
    if isinstance(query, CompiledQuery) and query.root is not None:
        r = query.root
        if r.op == "and":
            return "and"
        if r.op == "phrase" and r.phrase is not None and r.phrase.length > 1:
            return "and"
    return "or"


def ts_rank(
    index: Index,
    query: CompiledQuery | list[str],
    weights: tuple[float, float, float, float] | None = None,
    normalization: int = 0,
    variant: str = "auto",
    candidate_ids: list | None = None,
    candidate_docs: DataFrame | None = None,
) -> DataFrame:
    """PG's standard frequency/proximity rank — the published tsrank.c
    algorithm (PostgreSQL src/backend/utils/adt/tsrank.c, public source),
    reimplemented as pruned-scan column algebra. The reference extension
    ships no scoring function at all (SURVEY §2.1); `ts_rank` completes
    the PG ranking pair next to `ts_rank_cd`.

    Two variants, dispatched like PG's calc_rank (`variant="auto"`):

    - **or** (top-level term/OR/NOT): each query item found in a doc
      contributes w·H2(tf)/1.973 where H2(tf) = Σ_{j=1..tf} 1/j² — the
      harmonic position-decay series (early occurrences matter most,
      repeats saturate quadratically); the doc rank is the item sum
      divided by the item count.
    - **and** (top-level AND or multi-lexeme phrase): every pair of
      query items contributes, per position pair at distance d > 0,
      curw = √(w·w·word_distance(d)) with PG's logistic distance decay
      word_distance(d) = 1/(1.005 + 0.05·e^(d/1.5 − 2)) (1e-30 past
      d=100), folded with the noisy-OR rule rank = 1 − Π(1 − curw).

    `weights` is PG's {D, C, B, A} array (defaults {0.1, 0.2, 0.4,
    1.0}); this index stores no per-position weight labels, so every
    position ranks at the D weight `weights[0]` — the other three are
    accepted for signature parity and ignored. Documented deviations
    from PG: positions are NOT truncated at 256/lexeme (PG truncates at
    tsvector build time; this index keeps all positions), and docs with
    no contribution emit no row instead of 0 / 1e-20.

    Returns (doc_id, rank_e6, rank). `rank_e6` is an exact integer sum
    of e6-quantized per-item (or per-position-pair log) summands —
    addition-order-free, so bit-identical across runs, partitionings,
    and engines (the rank_metrics trick; for the and variant it is
    Σ round(1e6·ln(1 − curw)), a negative long, with
    rank = 1 − exp(rank_e6/1e6)). `rank` is the float rank after PG's
    full composable `normalization` bitmask: 1 ÷(1+ln dl), 2 ÷dl,
    8 ÷ distinct-lexeme count, 16 ÷(1+ln distinct-lexeme count),
    32 r/(r+1), applied in that order. Flag 4 (extent distance) is
    defined only over ts_rank_cd's covers; like PG's calc_rank, it is
    accepted here and ignored. Flags 8/16 add one candidate-narrowed
    postings aggregate (see `_doc_uniq`).

    Scale shape: the or variant is ONE bucket-pruned postings scan
    (tf column only — positions never decoded) + one hash aggregate;
    the and variant decodes positions only for candidate docs/blocks
    (`_positions_hay`), and its per-doc cost is O(Σ_pairs tf_i·tf_k) —
    pass the retrieval top-k as candidates (the proximity_rerank
    shape) rather than ranking a corpus.
    """
    query = _expanded(index, query)
    norm = _check_normalization(normalization)
    if variant not in ("auto", "or", "and"):
        raise ValueError(f"variant must be 'auto', 'or' or 'and', "
                         f"got {variant!r}")
    w = list(weights) if weights is not None else [0.1, 0.2, 0.4, 1.0]
    if len(w) != 4 or any(not 0.0 <= float(x) <= 1.0 for x in w):
        raise ValueError("weights must be 4 floats in [0, 1] ({D,C,B,A})")
    w0 = float(w[0])

    items = _query_items(query)
    spark = index.postings.sparkSession
    out_schema = "doc_id long, rank_e6 long, rank double"
    if not items:
        return spark.createDataFrame([], out_schema)
    # PG: fewer than two items can never form a pair — calc_rank_and
    # falls through to calc_rank_or
    v = _tsrank_variant(query, variant)
    if len(items) < 2:
        v = "or"
    terms = sorted(set(items))

    if v == "or":
        rows = _pruned_postings(index, terms).select("doc_id", "term", "tf")
        rows = _narrow_candidates(rows, candidate_ids, candidate_docs)
        # H2(tf) folds ascending (F.sequence order) — the DuckDB oracle's
        # list_sum folds the same ascending range, so the doubles agree
        # bit-for-bit before quantization
        h2 = F.aggregate(
            F.sequence(F.lit(1), F.col("tf").cast("int")), F.lit(0.0),
            lambda acc, j: acc + F.lit(1.0) / (j * j).cast("double"))
        summand = F.round(F.lit(1e6) * F.lit(w0) * h2
                          / F.lit(1.973)).cast("long")
        from collections import Counter
        mult = Counter(items)
        mdf = F.broadcast(spark.createDataFrame(
            sorted(mult.items()), "term string, _m long"))
        ranked = (rows.join(mdf, on="term")
                  .groupBy("doc_id")
                  .agg(F.sum(summand * F.col("_m")).alias("rank_e6")))
        raw = F.col("rank_e6") / F.lit(1e6) / F.lit(float(len(items)))
    else:
        hay = _positions_hay(index, terms, candidate_docs=candidate_docs,
                             candidate_ids=candidate_ids)
        hay = _narrow_candidates(hay, candidate_ids, candidate_docs)
        # every (i, k < i) ordered item pair, driver-side (PG compares
        # item i's positions against every earlier item's) — duplicates
        # in the query produce duplicate pair rows, exactly like PG
        pair_rows = [(pid, items[i], items[k])
                     for pid, (i, k) in enumerate(
                         (i, k) for i in range(len(items))
                         for k in range(i))]
        pairs = F.broadcast(spark.createDataFrame(
            pair_rows, "pid int, ta string, tb string"))
        a = hay.select("doc_id", F.col("term").alias("ta"),
                       F.col("pos").alias("pa"))
        b = hay.select("doc_id", F.col("term").alias("tb"),
                       F.col("pos").alias("pb"))
        joined = (pairs.join(a, on="ta").join(b, on=["tb", "doc_id"]))
        dist = F.abs(F.col("pa") - F.col("pb"))
        wd = F.when(dist > 100, F.lit(1e-30)).otherwise(
            F.lit(1.0) / (F.lit(1.005)
                          + F.lit(0.05)
                          * F.exp(dist.cast("double") / F.lit(1.5)
                                  - F.lit(2.0))))
        curw = F.lit(w0) * F.sqrt(wd)
        summand = F.round(F.lit(1e6)
                          * F.log(F.lit(1.0) - curw)).cast("long")
        ranked = (joined.where(dist > 0)
                  .groupBy("doc_id")
                  .agg(F.sum(summand).alias("rank_e6")))
        raw = F.lit(1.0) - F.exp(F.col("rank_e6") / F.lit(1e6))

    # flag 4 is extent-based (ts_rank_cd only); calc_rank ignores it
    return _apply_normalization(index, ranked, raw, norm & ~4)


def _narrow_candidates(df: DataFrame, candidate_ids, candidate_docs):
    if candidate_ids is not None:
        return df.where(F.col("doc_id").isin([int(d)
                                              for d in candidate_ids]))
    if candidate_docs is not None:
        return df.join(F.broadcast(candidate_docs.select("doc_id")),
                       on="doc_id", how="left_semi")
    return df


def proximity_rerank(
    index: Index,
    query: CompiledQuery | list[str],
    k: int = 10,
    depth: int = 100,
    alpha: float = 1.0,
) -> DataFrame:
    """BM25 top-`depth` candidates reranked by query-term proximity:

        score' = bm25 · (1 + alpha / span)

    where span is the doc's minimal all-terms window; docs that never
    hold all terms keep their plain BM25 score (span = ∞ ⇒ boost 1).
    Returns (doc_id, score, span) — span null when unboosted — top-k by
    (score desc, doc_id asc).

    depth ≤ 512 collects the candidate ids driver-side so the positional
    scan row-group-prunes on IN-literals (the search_with_headlines
    winners trick); deeper reranks switch to an in-plan semi-join.
    """
    query = _expanded(index, query)
    terms = _terms_of(query)
    spark = index.postings.sparkSession
    out_schema = "doc_id long, score double, span int"
    if not terms:
        return spark.createDataFrame([], out_schema)
    hits = bm25_topk(index, terms, k=depth)
    if depth <= 512:
        rows = hits.collect()
        if not rows:
            return spark.createDataFrame([], out_schema)
        ids = [int(r["doc_id"]) for r in rows]
        hits = spark.createDataFrame(rows, hits.schema)
        spans = min_span_docs(index, terms, candidate_ids=ids)
    else:
        spans = min_span_docs(index, terms,
                              candidate_docs=hits.select("doc_id"))
    boost = F.lit(1.0) + F.lit(float(alpha)) / F.col("span").cast("double")
    boosted = (hits.join(spans, on="doc_id", how="left")
               .withColumn("score",
                           F.when(F.col("span").isNotNull(),
                                  F.col("score") * boost)
                           .otherwise(F.col("score"))))
    return (boosted.select("doc_id", "score", "span")
            .orderBy(F.desc("score"), F.asc("doc_id")).limit(k))


def rm3_expand(
    index: Index,
    query: CompiledQuery | list[str],
    fb_docs: int = 10,
    max_terms: int = 10,
    config: str | None = None,
) -> DataFrame:
    """Pseudo-relevance-feedback expansion terms (the RM3 first stage):
    the top-`fb_docs` BM25 hits are treated as relevant, their term
    statistics vote, and the best `max_terms` NEW terms (the original
    query terms never expand onto themselves) come back as
    (rank, term, fb_tf, df).

    Selection is the integer-only more_like_this rule — feedback term
    frequency desc, then rarest-first (df asc), then term asc — which
    is deterministic and engine-portable (no float relevance weights to
    tie-break). fb term stats come from re-analyzing the feedback docs'
    recall vectors: the tokens column is the analyzer's own canonical
    output, so re-analysis reproduces the postings' lexeme stream
    exactly (same guarantee more_like_this_by_id relies on), and the
    whole feedback stage touches fb_docs rows, not the corpus.
    """
    query = _expanded(index, query)
    from collections import Counter

    from ..functions.lexize import analyze_text_simple

    terms = _terms_of(query)
    spark = index.postings.sparkSession
    out_schema = "rank int, term string, fb_tf long, df long"
    if not terms:
        return spark.createDataFrame([], out_schema)
    fb = bm25_topk(index, terms, k=fb_docs).collect()
    ids = [int(r["doc_id"]) for r in fb]
    if not ids:
        return spark.createDataFrame([], out_schema)
    tok_rows = (index.tokens.where(F.col("doc_id").isin(ids))
                .select("tokens").collect())
    tf: Counter = Counter()
    for r in tok_rows:
        tf.update(lx for lx in analyze_text_simple(
            " ".join(r["tokens"]), config or index.config)
            if lx is not None)
    cands = sorted(t for t in tf if t not in set(terms))
    if not cands:
        return spark.createDataFrame([], out_schema)
    # bounded dictionary lookup: one df row per distinct candidate term
    dfs = {r["term"]: int(r["df"]) for r in
           _idf_lookup(index, cands, cols=("term", "df")).collect()}
    ranked = sorted((t for t in cands if t in dfs),
                    key=lambda t: (-tf[t], dfs[t], t))[:max_terms]
    return spark.createDataFrame(
        [(i + 1, t, int(tf[t]), dfs[t]) for i, t in enumerate(ranked)],
        out_schema)


def prf_search(
    index: Index,
    query: CompiledQuery | list[str],
    k: int = 10,
    fb_docs: int = 10,
    max_terms: int = 10,
) -> DataFrame:
    """Full PRF retrieval: expand with `rm3_expand`, then BM25 over the
    union of original + expansion terms (uniform term weights — the
    Rocchio-style simplification; the expansion SET carries the
    feedback signal, selection already being feedback-frequency-ranked).
    Two pruned postings scans total (feedback pass + expanded pass),
    independent of corpus size. Returns (doc_id, score) in rank order.
    """
    query = _expanded(index, query)
    terms = _terms_of(query)
    spark = index.postings.sparkSession
    if not terms:
        return spark.createDataFrame([], "doc_id long, score double")
    expansion = [r["term"] for r in
                 rm3_expand(index, terms, fb_docs=fb_docs,
                            max_terms=max_terms).collect()]
    return bm25_topk(index, sorted(set(terms) | set(expansion)), k=k)


def ltr_features(
    index: Index,
    query: CompiledQuery | list[str],
    candidate_ids: list | None = None,
) -> DataFrame:
    """Per-document feature vector for learning-to-rank training:

        (doc_id, n_matched, sum_tf, dl, bm25, span)

    n_matched = how many distinct query terms the doc contains,
    sum_tf = total query-term occurrences, dl = doc length, bm25 = the
    engine score, span = minimal all-terms window (null when the doc
    lacks a term). Integer-dominant by design; the BM25 feature uses
    the fixed-order per-term summation (bm25_topk_paged's trick) so a
    regenerated feature file is bit-identical to the last one — LTR
    training data must be reproducible, and hash-aggregate float sums
    are not.

    `candidate_ids` narrows every scan to the docs under consideration
    (pass the retrieval top-k — featurizing a whole corpus per query is
    a smell); omit it to featurize all matching docs (the offline
    training-set sweep, still one pruned scan + one window).
    """
    query = _expanded(index, query)
    terms = _terms_of(query)
    spark = index.postings.sparkSession
    out_schema = ("doc_id long, n_matched int, sum_tf long, dl int, "
                  "bm25 double, span int")
    if not terms:
        return spark.createDataFrame([], out_schema)
    rows = _scored(index, terms)
    if candidate_ids is not None:
        ids = [int(d) for d in candidate_ids]
        rows = rows.where(F.col("doc_id").isin(ids))
    aggs = [F.sum(F.when(F.col("term") == t, F.col("score")))
            .alias(f"_s{i}") for i, t in enumerate(terms)]
    per_doc = rows.groupBy("doc_id").agg(
        F.count_distinct("term").cast("int").alias("n_matched"),
        F.sum("tf").cast("long").alias("sum_tf"),
        F.first("dl").cast("int").alias("dl"),
        *aggs)
    total = F.coalesce(F.col("_s0"), F.lit(0.0))
    for i in range(1, len(terms)):
        total = total + F.coalesce(F.col(f"_s{i}"), F.lit(0.0))
    feats = per_doc.withColumn("bm25", total)
    spans = min_span_docs(index, terms, candidate_ids=candidate_ids)
    return (feats.join(spans, on="doc_id", how="left")
            .select("doc_id", "n_matched", "sum_tf", "dl", "bm25", "span"))


def rank_metrics(
    results: DataFrame,
    qrels: DataFrame,
    k: int = 10,
) -> DataFrame:
    """Offline ranking-quality evaluation (the trec_eval core): per-query
    recall@k, MRR, and nDCG@k for a result set against relevance
    judgments — the measurement half of an LTR pipeline (`ltr_features`
    makes the training file; this scores the model's rankings).

    `results`: (query_id, doc_id, score) — rank is derived as
    (score desc, doc_id asc), so any engine ranking (BM25, PRF, hybrid,
    a learned model's predictions) plugs in directly.
    `qrels`:   (query_id, doc_id, rel) with integer rel ≥ 0; rel > 0 is
    relevant, graded gains use 2^rel − 1.

    Returns one row per query IN QRELS (queries the judgment file knows
    about — unjudged queries cannot be scored):

        (query_id, n_rel, hits_at_k, recall_at_k_e4, mrr_e6,
         dcg_at_k_e6, idcg_at_k_e6, ndcg_at_k_e4)

    Metric values are e4/e6-quantized integers built from per-item
    integer summands (Σ round(1e6·gain/log2(rank+1))): integer sums are
    addition-order-free, so the numbers are bit-identical across runs,
    partitionings, and engines — a float DCG from a hash aggregate is
    not. Cost: one window over the results (partitioned by query_id),
    one over the qrels, two small aggregates, one join on query_id —
    no corpus access at all, scales with |results| + |qrels|.
    """
    spark = results.sparkSession
    kk = int(k)

    w_res = Window.partitionBy("query_id").orderBy(
        F.desc("score"), F.asc("doc_id"))
    ranked = (results.select("query_id", "doc_id", "score")
              .withColumn("rank", F.row_number().over(w_res))
              .where(F.col("rank") <= kk))

    rel = qrels.select("query_id", "doc_id",
                       F.col("rel").cast("int").alias("rel"))
    relevant = rel.where(F.col("rel") > 0)

    gain = F.pow(F.lit(2.0), F.col("rel").cast("double")) - F.lit(1.0)
    dcg_item = F.round(F.lit(1e6) * gain
                       / F.log2(F.col("rank").cast("double") + F.lit(1.0))
                       ).cast("long")
    hit = (ranked.join(relevant, on=["query_id", "doc_id"], how="inner")
           .groupBy("query_id")
           .agg(F.count(F.lit(1)).cast("long").alias("hits_at_k"),
                F.min("rank").alias("_first_rank"),
                F.sum(dcg_item).alias("dcg_at_k_e6")))

    # ideal DCG: the judgments themselves in best order (rel desc, doc_id
    # asc for a deterministic tie order), cut at k
    w_ideal = Window.partitionBy("query_id").orderBy(
        F.desc("rel"), F.asc("doc_id"))
    igain = F.pow(F.lit(2.0), F.col("rel").cast("double")) - F.lit(1.0)
    ideal = (relevant.withColumn("_irank", F.row_number().over(w_ideal))
             .groupBy("query_id")
             .agg(F.count(F.lit(1)).cast("long").alias("n_rel"),
                  F.sum(F.when(
                      F.col("_irank") <= kk,
                      F.round(F.lit(1e6) * igain
                              / F.log2(F.col("_irank").cast("double")
                                       + F.lit(1.0))).cast("long")))
                  .alias("idcg_at_k_e6")))

    out = (ideal.join(hit, on="query_id", how="left")
           .select(
               "query_id",
               "n_rel",
               F.coalesce(F.col("hits_at_k"), F.lit(0)).alias("hits_at_k"),
               F.round(F.lit(1e4)
                       * F.coalesce(F.col("hits_at_k"), F.lit(0))
                       / F.col("n_rel")).cast("long")
               .alias("recall_at_k_e4"),
               F.coalesce(F.round(F.lit(1e6) / F.col("_first_rank")),
                          F.lit(0)).cast("long").alias("mrr_e6"),
               F.coalesce(F.col("dcg_at_k_e6"), F.lit(0))
               .alias("dcg_at_k_e6"),
               "idcg_at_k_e6",
               F.round(F.lit(1e4)
                       * F.coalesce(F.col("dcg_at_k_e6"), F.lit(0))
                       / F.col("idcg_at_k_e6")).cast("long")
               .alias("ndcg_at_k_e4")))
    return out
