"""Global positional inverted-index build.

Replaces the reference's per-row trigger upkeep
(/root/reference/development_schema.sql:18-34: content_tsv/content_arr
columns + GIN index) with a batch job producing five persisted tables under
one index directory:

- tokens/    doc_id, tokens array<string>, dl, sha256   (recall vectors +
             per-row invariant column)
- postings/  bucket=<b>/ term, doc_id, tf, dl, positions array<int>
             — columnar row form, directory-partitioned by term bucket so a
             query's term lookup prunes to a handful of files; doc length is
             denormalized to kill the docstats join at query time
- packed/    bucket=<b>/ term, block_id, base_doc, n_docs, payload binary
             — delta+varint compressed blocks of 128 docs each
             (doc-contiguous); on the lean default layout this is the
             index's single positional copy (phrases, headlines)
- terms/     term, bucket, df, cf, idf — the dictionary
- stats/     n_docs, avgdl, config, prep_version — corpus stats + the
             engine's analog of the reference's TSPVector marker domain
             check (/root/reference/sql/base_domain.sql:23-28): a loader
             assertion that content went through the canonical pipeline

plus _manifest/ — per-stage, per-partition lineage rows (row counts,
checksums, wall ms, input signature). A re-run with the same input signature
skips completed stages: that is the checkpoint-resume contract. Lineage
costs no second scan of any stage output: per-file row counts come from
parquet footers (driver-side metadata read) and the global checksum rides
the write pass itself via Observation — at corpus scale a read-back would
double the build I/O.

Shuffle budget: the per-(term, doc) aggregation happens doc-locally inside
the analysis UDF (map-side combine) — no shuffle ever carries one row per
token occurrence. The shuffles that remain move one compact row per
(term, doc): ONE range repartition on (bucket, term, doc_id) whose sorted
layout feeds both the postings write and (shuffle-free, via mapInPandas
over contiguous runs) the packed-block stage, plus the small
terms-dictionary aggregation (partial+final).

RANGE, not hash-on-bucket: a hash repartition into n_buckets partitions
caps sort/pack parallelism at n_buckets reducers and sends a hot term's
entire posting list ("def", "the" — O(n_docs) rows) to ONE reducer. Range
partitioning on (bucket, term, doc_id) into ~cluster-core partitions
splits a hot term's run across consecutive reducers at doc_id granularity
— the skew unit collapses from "hottest term's df" to "rows per range
chunk". The directory layout is untouched (partitionBy("bucket") at
write); a (term, block) run split at a range boundary just yields two
partial packed rows for that block, which the query path treats as
independent runs (disjoint doc subsets).
"""

from __future__ import annotations

from ..io_codec import INDEX_CODEC

import time
from dataclasses import dataclass

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (BinaryType, IntegerType, LongType,
                               StringType, StructField, StructType)

from .packing import pack_block

K1 = 1.2
B = 0.75
# v2: packed payloads carry per-doc dl. v3: tokens/postings rows carry a
# `gen` (generation) column so doc replaces/deletes resolve by tombstone
# (doc_id, before_gen) without rewriting the append-only tables, and stats
# carries `gen`. v4: block-max scoring is gone, so packed rows drop their
# per-block tf bounds and stats drops the packing-time avgdl. The version
# gate in load_index (and fsck's prep_version check) rejects indexes
# written under other layouts.
PREP_VERSION = "tsp-spark-4"
DEFAULT_BLOCK_SPAN = 128

STATS_SCHEMA = ("n_docs long, avgdl double, config string, "
                "prep_version string, n_buckets int, block_span int, "
                "gen int")

PACKED_SCHEMA = StructType([
    StructField("term", StringType(), False),
    StructField("bucket", IntegerType(), False),
    StructField("block_id", LongType(), False),
    StructField("base_doc", LongType(), False),
    StructField("n_docs", IntegerType(), False),
    StructField("payload", BinaryType(), False),
])


def idf_expr(df_col, n_docs):
    """Lucene-style always-positive BM25 idf: ln(1 + (N - df + .5)/(df + .5))."""
    return F.log(F.lit(1.0) + (F.lit(float(n_docs)) - df_col + 0.5) / (df_col + 0.5))


@dataclass
class IndexPaths:
    root: str

    @property
    def tokens(self): return f"{self.root}/tokens"
    @property
    def postings(self): return f"{self.root}/postings"
    @property
    def packed(self): return f"{self.root}/packed"
    @property
    def terms(self): return f"{self.root}/terms"
    @property
    def stats(self): return f"{self.root}/stats"
    @property
    def manifest(self): return f"{self.root}/_manifest"
    # incremental-maintenance state (see streaming/incremental.py):
    # pending/    merged-batch postings WITH positions (lean layouts only)
    #             awaiting compaction into packed blocks
    # _stale/     marker rows (one per merged batch): packed/ is stale —
    #             loaders must treat the index as packed=None until
    #             compact_index repacks the touched buckets
    # _tombstones (doc_id, before_gen): rows of doc_id with gen <
    #             before_gen are dead (doc replace/delete)
    @property
    def pending(self): return f"{self.root}/pending"
    @property
    def stale(self): return f"{self.root}/_stale"
    @property
    def tombstones(self): return f"{self.root}/_tombstones"


def _input_signature(docs: DataFrame, doc_id: str) -> tuple[int, int]:
    row = docs.select(
        F.count("*").alias("n"),
        F.coalesce(F.bit_xor(F.xxhash64(doc_id)), F.lit(0)).alias("h")).first()
    return int(row["n"]), int(row["h"])


def _completed_stages(spark: SparkSession, paths: IndexPaths,
                      signature: tuple[int, int]) -> set[str]:
    try:
        m = spark.read.parquet(paths.manifest)
    except Exception:
        return set()
    rows = (m.where((F.col("sig_n") == signature[0])
                    & (F.col("sig_h") == signature[1]))
            .select("stage").distinct().collect())
    return {r["stage"] for r in rows}


def _write_manifest(spark: SparkSession, paths: IndexPaths, stage: str,
                    signature: tuple[int, int], partition_rows,
                    wall_ms: int) -> None:
    schema = StructType([
        StructField("stage", StringType(), False),
        StructField("partition_id", LongType(), False),
        StructField("row_count", LongType(), False),
        # NULL = "not computed for this row" (per-file footer rows carry
        # counts only); the global partition_id=-1 row carries the real
        # observed checksum — distinguishable from a true xor of 0
        StructField("checksum", LongType(), True),
        StructField("wall_ms", LongType(), False),
        StructField("sig_n", LongType(), False),
        StructField("sig_h", LongType(), False),
    ])
    rows = [(stage, int(p), int(c), None if h is None else int(h), wall_ms,
             signature[0], signature[1]) for p, c, h in partition_rows]
    spark.createDataFrame(rows, schema).write.option("compression", INDEX_CODEC).mode("append").parquet(paths.manifest)


def _lineage(df: DataFrame, part_col, checksum_col) -> list:
    rows = (df.groupBy(part_col.alias("p"))
              .agg(F.count("*").alias("c"),
                   F.coalesce(F.bit_xor(F.xxhash64(checksum_col)), F.lit(0)).alias("h"))
              .collect())
    return [(r["p"], r["c"], r["h"]) for r in rows]


def _checksum_observation(name: str, checksum_col):
    """Global (row_count, xor-of-xxhash64) riding the write action itself —
    lineage without a second scan of the stage output."""
    from pyspark.sql import Observation
    obs = Observation(name)
    return obs, [F.count(F.lit(1)).alias("c"),
                 F.coalesce(F.bit_xor(F.xxhash64(checksum_col)),
                            F.lit(0)).alias("h")]


def _file_lineage(spark: SparkSession, out_path: str, observation,
                  count_key: str = "c", hash_key: str = "h",
                  fallback_df: DataFrame = None,
                  fallback_checksum_col=None) -> list:
    """Per-partition lineage rows: per-file row counts from parquet FOOTERS
    (a driver-side metadata read — no data scan, no extra Spark job) plus
    one global row (partition_id = -1) carrying the observed checksum of the
    write pass. Falls back to an aggregation job for non-local filesystems."""
    rows = []
    try:
        files = sorted(spark.read.parquet(out_path).inputFiles())
        import pyarrow.parquet as pq
        from concurrent.futures import ThreadPoolExecutor

        def n_rows(f):
            local = f[len("file:"):] if f.startswith("file:") else f
            return pq.ParquetFile(local).metadata.num_rows
        # footer opens are independent ~ms-scale IO calls; a serial loop
        # over a few hundred files was costing whole seconds of build wall
        with ThreadPoolExecutor(max_workers=16) as pool:
            counts = list(pool.map(n_rows, files))
        rows = list(zip(range(len(files)), counts, [None] * len(files)))
    except Exception:
        if fallback_df is not None:
            return _lineage(fallback_df, F.spark_partition_id(),
                            fallback_checksum_col)
        rows = []
    got = observation.get
    rows.append((-1, int(got[count_key]), int(got[hash_key])))
    return rows


def _pack_runs(pdf: pd.DataFrame, block_span: int) -> pd.DataFrame:
    """Pack every (term, block) run in a frame already sorted by
    (term, doc_id). Pure numpy/pandas."""
    out = []
    pdf = pdf.reset_index(drop=True)
    block_ids = (pdf["doc_id"] // block_span).to_numpy()
    for (term, block_id), g in pdf.groupby(
            ["term", block_ids], sort=False):
        base_doc = int(block_id) * block_span
        payload = pack_block(g["doc_id"].to_numpy(), g["tf"].to_numpy(),
                             g["dl"].to_numpy(), g["positions"].tolist(),
                             base_doc)
        out.append({
            "term": term, "bucket": int(g["bucket"].iloc[0]),
            "block_id": int(block_id), "base_doc": base_doc,
            "n_docs": len(g), "payload": payload,
        })
    return pd.DataFrame(out, columns=[
        "term", "bucket", "block_id", "base_doc", "n_docs", "payload"])


def _streaming_packer(block_span: int):
    """mapInPandas kernel over bucket-partitioned, (term, doc_id)-sorted
    postings rows — the SAME physical layout the postings write produces, so
    packing adds ZERO shuffles: every (term, block) run is contiguous within
    the partition; only the open tail run is carried across Arrow batches."""

    def pack(batches):
        carry = None
        for pdf in batches:
            if pdf.empty:
                continue
            if carry is not None:
                pdf = pd.concat([carry, pdf], ignore_index=True)
            last_term = pdf["term"].iloc[-1]
            last_block = int(pdf["doc_id"].iloc[-1]) // block_span
            tail = (pdf["term"] == last_term) & \
                   (pdf["doc_id"] // block_span == last_block)
            emit = pdf[~tail]
            carry = pdf[tail]
            if not emit.empty:
                yield _pack_runs(emit, block_span)
        if carry is not None and not carry.empty:
            yield _pack_runs(carry, block_span)

    return pack


def build_index(
    spark: SparkSession,
    docs: DataFrame,
    out_dir: str,
    content_col: str = "content",
    config: "str | Column" = "english",
    doc_id: str = "doc_id",
    n_buckets: int = 32,
    block_span: int = DEFAULT_BLOCK_SPAN,
    resume: bool = True,
    build_packed: bool = True,
    min_analyze_partitions: int | None = None,
    postings_partitions: int | None = None,
    row_positions: bool | None = None,
    metrics: dict | None = None,
    cache_level: str = "DISK_ONLY",
) -> IndexPaths:
    """Batch index build; idempotent and stage-resumable.

    `metrics`, if given, is filled with per-stage wall seconds (same numbers
    the manifest persists) — the build-job observability hook.
    `min_analyze_partitions=0` disables the small-input spread guard (pass
    this when the caller already repartitioned/cached the input).
    `postings_partitions` overrides the postings sort/pack shuffle width
    (default: 2× cluster parallelism).
    `row_positions`: store position arrays in the postings ROW table.
    Default (None) = only when no packed store is built: positions
    dominate row-postings bytes (~30× the packed equivalent on the
    measured corpus), so when the delta-varint packed store exists it is
    the single positional copy — phrase verification and headlines decode
    positions from it — and the row table shrinks to a compact scoring
    projection (doc_id, dl, term, tf). Pass True to keep both (e.g. for
    JVM-only phrase paths or row-level positional debugging).
    `cache_level`: StorageLevel name for the two inter-stage caches
    (analyzed docs, range-sorted postings); see the note at `storage`
    below for why DISK_ONLY is the scale-safe default.
    `config` may also be a pyspark Column producing a per-ROW config
    string (PG's `to_tsvector(config_col, text)` — the multilingual
    corpus pattern, e.g. `F.when(F.col("lang") == "de", "german")
    .otherwise("english")`): the analysis UDF already takes config as a
    per-row value, so routing costs nothing. The persisted stats then
    record config = "percolumn", and the few driver-side helpers that
    re-analyze text with the INDEX's config (fuzzy_bm25_topk,
    expand_prefix, more_like_this, rm3_expand) require an explicit
    `config=` argument on such an index.
    """
    from pyspark.sql import Column as _Column

    per_column = isinstance(config, _Column)
    cfg_col = config if per_column else F.lit(config)
    cfg_name = "percolumn" if per_column else config

    from pyspark import StorageLevel

    # `cache_level` names any pyspark StorageLevel constant. DISK_ONLY is
    # the default because each inter-stage cache is read a bounded number
    # of times by exactly the next stages, while the ON-HEAP columnar
    # cache of tokens+postings at corpus scale drives the JVM into GC
    # thrash (measured: 2.6x whole-build slowdown at 480k docs in a 24 GB
    # heap, bimodal stage times as the heap crossed the collection
    # threshold). On executor-local disks the serialized re-read streams
    # at page-cache speed and the heap stays flat.
    storage = getattr(StorageLevel, cache_level)

    paths = IndexPaths(out_dir)
    # the signature job exists to key resume decisions; skip it entirely for
    # fresh (resume=False) builds
    signature = _input_signature(docs, doc_id) if resume else (0, 0)
    done = _completed_stages(spark, paths, signature) if resume else set()
    if metrics is None:
        metrics = {}

    # A small upstream file count must not serialize the expensive tokenize
    # UDF: spread input across the cluster before analysis. (A 100 TB scan
    # already arrives in thousands of splits; this guards the small-file /
    # coalesced-scan case. inputFiles() is a metadata listing — cheap,
    # unlike df.rdd which forces a full plan-to-RDD conversion.)
    target_parts = (min_analyze_partitions
                    if min_analyze_partitions is not None
                    else spark.sparkContext.defaultParallelism * 2)
    if target_parts > 0:
        # inputFiles() reflects the SOURCE scan, not the current plan — a
        # caller that already repartitioned should pass 0 to opt out
        try:
            few_splits = len(docs.inputFiles()) < target_parts
        except Exception:
            few_splits = True
        if few_splits:
            docs = docs.repartition(target_parts)

    from .analyze import analyze_index_udf

    # Single-pass analysis: tokens + dl + doc-local postings in one Arrow
    # roundtrip; content is dropped from the cached projection, so the
    # expensive tokenize runs exactly once and every downstream stage reads
    # the compact cache (no raw lexeme stream is ever cached or shuffled)
    analyzed = (docs
                .withColumn("_a", analyze_index_udf(
                    F.col(content_col), cfg_col))
                .select(F.col(doc_id).alias("doc_id"),
                        F.col("_a.tokens").alias("tokens"),
                        F.col("_a.dl").alias("dl"),
                        F.col("_a.postings").alias("postings"),
                        F.sha2(F.col(content_col), 256).alias("sha256"))
                .persist(storage))

    # ---- stage: tokens (recall vectors + invariant column) ----
    corpus_obs = None
    if "tokens" not in done:
        from pyspark.sql import Observation
        t0 = time.time()
        corpus_obs = Observation("corpus_stats")
        tok = (analyzed.select("doc_id", "tokens", "dl", "sha256")
               .withColumn("gen", F.lit(0)))
        # corpus stats AND the lineage checksum ride the same pass — no
        # separate stats or lineage scan
        (tok.observe(corpus_obs, F.count(F.lit(1)).alias("n_docs"),
                     F.avg("dl").alias("avgdl"),
                     F.coalesce(F.bit_xor(F.xxhash64("doc_id")),
                                F.lit(0)).alias("h"))
         .write.option("compression", INDEX_CODEC).mode("overwrite").parquet(paths.tokens))
        metrics["tokens_sec"] = time.time() - t0
        t1 = time.time()
        _write_manifest(spark, paths, "tokens", signature,
                        _file_lineage(spark, paths.tokens, corpus_obs,
                                      count_key="n_docs",
                                      fallback_df=tok,
                                      fallback_checksum_col=F.col("doc_id")),
                        int((time.time() - t0) * 1000))
        metrics["tokens_lineage_sec"] = time.time() - t1

    # ---- stage: postings rows, bucketed by term hash ----
    # per-(term, doc) aggregation happened doc-locally inside the analysis
    # UDF (map-side combine): no shuffle ever carries one-row-per-token —
    # the downstream shuffles move one compact row per (term, doc)
    per_term_doc = (analyzed
                    .select("doc_id", "dl", F.explode("postings").alias("p"))
                    .select("doc_id", "dl",
                            F.col("p.term").alias("term"),
                            F.col("p.tf").alias("tf"),
                            F.col("p.positions").alias("positions"))
                    .withColumn("bucket",
                                F.pmod(F.xxhash64("term"), F.lit(n_buckets))
                                .cast("int")))

    # ONE shuffle produces the physical layout both the postings table and
    # the packed blocks need (globally range-ordered by bucket, term,
    # doc_id); persisting it lets the packed stage run shuffle-free off the
    # same partitions. Parallelism scales with the cluster, not n_buckets
    # (see module docstring); the global range order also makes each
    # per-bucket file a term-ordered chunk, so query scans prune at the
    # parquet row-group level on term min/max.
    sort_parts = (postings_partitions
                  if postings_partitions is not None
                  else max(spark.sparkContext.defaultParallelism * 2,
                           n_buckets))
    bucketed = (per_term_doc
                .repartitionByRange(sort_parts, "bucket", "term", "doc_id")
                .sortWithinPartitions("bucket", "term", "doc_id")
                .persist(storage))

    if row_positions is None:
        row_positions = not build_packed
    if "postings" not in done:
        t0 = time.time()
        post_obs, post_aggs = _checksum_observation(
            "postings_lineage", F.concat_ws("|", "term", "doc_id"))
        post_out = bucketed if row_positions else bucketed.drop("positions")
        post_out = post_out.withColumn("gen", F.lit(0))
        (post_out
         .observe(post_obs, *post_aggs)
         .write.option("compression", INDEX_CODEC).mode("overwrite").partitionBy("bucket").parquet(paths.postings))
        metrics["postings_sec"] = time.time() - t0
        t1 = time.time()
        _write_manifest(spark, paths, "postings", signature,
                        _file_lineage(spark, paths.postings, post_obs,
                                      fallback_df=per_term_doc,
                                      fallback_checksum_col=F.concat_ws(
                                          "|", "term", "doc_id")),
                        int((time.time() - t0) * 1000))
        metrics["postings_lineage_sec"] = time.time() - t1

    # ---- stage: terms dictionary + corpus stats ----
    if "terms" not in done:
        t0 = time.time()
        if corpus_obs is not None:
            got = corpus_obs.get
            n_docs, avgdl = int(got["n_docs"]), float(got["avgdl"])
        else:
            stats_row = analyzed.select(
                F.count("*").alias("n_docs"), F.avg("dl").alias("avgdl")).first()
            n_docs, avgdl = int(stats_row["n_docs"]), float(stats_row["avgdl"])
        terms = (bucketed
                 .groupBy("term")
                 .agg(F.count("*").alias("df"), F.sum("tf").alias("cf"),
                      F.first("bucket").alias("bucket"))
                 .withColumn("idf", idf_expr(F.col("df"), n_docs)))
        term_obs, term_aggs = _checksum_observation(
            "terms_lineage", F.col("term"))
        # bucket-partitioned like postings/packed: a query's idf lookup
        # prunes to the terms' bucket directories instead of scanning the
        # whole dictionary
        terms.observe(term_obs, *term_aggs) \
            .write.option("compression", INDEX_CODEC).mode("overwrite").partitionBy("bucket").parquet(paths.terms)
        spark.createDataFrame(
            [(n_docs, avgdl, cfg_name, PREP_VERSION, n_buckets, block_span,
              0)],
            STATS_SCHEMA,
        ).write.option("compression", INDEX_CODEC).mode("overwrite").parquet(paths.stats)
        metrics["terms_sec"] = time.time() - t0
        t1 = time.time()
        _write_manifest(spark, paths, "terms", signature,
                        _file_lineage(spark, paths.terms, term_obs,
                                      fallback_df=terms,
                                      fallback_checksum_col=F.col("term")),
                        int((time.time() - t0) * 1000))
        metrics["terms_lineage_sec"] = time.time() - t1

    # ---- stage: packed blocks (delta+varint) ----
    if build_packed and "packed" not in done:
        t0 = time.time()
        # mapInPandas over the SAME bucket-sorted partitions the postings
        # write used: every (term, block) run is contiguous — no groupBy
        # shuffle, no terms join, no repartition
        packed = bucketed.select(
            "term", "bucket", "doc_id", "tf", "dl", "positions"
        ).mapInPandas(_streaming_packer(block_span), schema=PACKED_SCHEMA)
        pack_obs, pack_aggs = _checksum_observation(
            "packed_lineage", F.concat_ws("|", "term", "block_id"))
        (packed
         .observe(pack_obs, *pack_aggs)
         .write.option("compression", INDEX_CODEC).mode("overwrite").partitionBy("bucket").parquet(paths.packed))
        metrics["packed_sec"] = time.time() - t0
        t1 = time.time()
        _write_manifest(spark, paths, "packed", signature,
                        _file_lineage(spark, paths.packed, pack_obs),
                        int((time.time() - t0) * 1000))
        metrics["packed_lineage_sec"] = time.time() - t1

    analyzed.unpersist()
    bucketed.unpersist()
    return paths


@dataclass
class Index:
    paths: IndexPaths
    tokens: DataFrame
    postings: DataFrame
    terms: DataFrame
    n_docs: int
    avgdl: float
    config: str
    n_buckets: int = 32
    block_span: int = DEFAULT_BLOCK_SPAN
    packed: DataFrame | None = None
    gen: int = 0


def _path_exists(spark: SparkSession, path: str) -> bool:
    jvm = spark._jvm
    p = jvm.org.apache.hadoop.fs.Path(path)
    fs = p.getFileSystem(spark._jsc.hadoopConfiguration())
    return bool(fs.exists(p))


def _apply_tombstones(df: DataFrame, tombs: DataFrame) -> DataFrame:
    """Drop rows shadowed by a (doc_id, before_gen) tombstone. The
    tombstone list is replace/delete metadata — tiny — so this is a
    broadcast join, never a shuffle of the base table."""
    t = (tombs.groupBy("doc_id")
         .agg(F.max("before_gen").alias("_before_gen")))
    return (df.join(F.broadcast(t), on="doc_id", how="left")
            .where(F.col("_before_gen").isNull()
                   | (F.col("gen") >= F.col("_before_gen")))
            .drop("_before_gen"))


def _alias_versions(spark: SparkSession, alias_dir: str) -> list[int]:
    """COMPLETE alias versions under `alias_dir`, ascending: `v=N`
    subdirectories whose Spark commit finished (_SUCCESS present) — a
    publish that died mid-write is invisible to readers."""
    jvm = spark._jvm
    p = jvm.org.apache.hadoop.fs.Path(alias_dir)
    fs = p.getFileSystem(spark._jsc.hadoopConfiguration())
    if not fs.exists(p):
        return []
    out = []
    for st in fs.listStatus(p):
        name = st.getPath().getName()
        if st.isDirectory() and name.startswith("v="):
            try:
                n = int(name[2:])
            except ValueError:
                continue
            if fs.exists(jvm.org.apache.hadoop.fs.Path(
                    f"{alias_dir}/{name}/_SUCCESS")):
                out.append(n)
    return sorted(out)


def publish_index(spark: SparkSession, index_dir: str,
                  alias_dir: str, keep: int = 2,
                  verify: "bool | str" = False) -> int:
    """Point `alias_dir` at `index_dir` — the zero-downtime (blue-green)
    reindex flip: build or compact into a NEW directory, then publish it
    under the alias every reader loads. Returns the new alias version.

    Reader-safe AND writer-safe: each publish writes a fresh pointer
    under a hidden temp name, then CLAIMS `v=N+1` with a non-overwriting
    atomic rename — readers take the highest version whose commit
    completed (_SUCCESS), so a reader racing a publish sees either the
    old target or the new one, never a half state; and two concurrent
    publishers that both computed v=N+1 cannot silently clobber each
    other — the claim uses FileContext.rename, which is atomic and
    THROWS if the destination exists (unlike FileSystem.rename, whose
    move-INTO-existing-directory semantics would let the losing racer
    "succeed" with its pointer nested invisibly inside the winner's), so
    exactly one claims the version and the loser raises (retry to land
    at v=N+2). Alias dirs therefore belong on a filesystem with atomic
    directory rename (HDFS, local, ABFS) — on a rename-by-copy object
    store put the alias on the metastore-grade path. The previous
    `keep-1` versions are retained so an in-flight reader that already
    resolved an older pointer can finish against its target; prune the
    superseded index DIRECTORIES themselves on whatever delay covers the
    longest-running query. Validates the target before publishing (a
    typo'd path must not brick every reader at resolve time).

    Works for EVERY persisted index family: the main/fielded indexes
    carry `stats/`, the trigram and LSH indexes carry `meta/`, the
    IVF/IVF-PQ indexes carry `centroids/`. load_index follows an alias
    transparently; the other families' loaders take
    `resolve_index_alias(spark, alias_dir)`.

    `verify=True` runs the family-dispatched fsck (plans/fsck.py,
    shallow; `verify="deep"` adds the full-scan reconciliations) and
    REFUSES the flip on any failed check — the one-call pre-flight for
    pointing traffic at a restored or freshly-compacted index."""
    if keep < 1:
        raise ValueError("keep must be >= 1")
    if not (_path_exists(spark, IndexPaths(index_dir).stats)
            or _path_exists(spark, f"{index_dir}/meta")
            or _path_exists(spark, f"{index_dir}/centroids")):
        raise ValueError(
            f"{index_dir} is not a built index (no stats/, meta/, or "
            f"centroids/)")
    if verify:
        # verify=True runs the family-dispatched shallow audit;
        # verify="deep" adds the full-scan reconciliations. Any `fail`
        # row aborts the publish — never flip traffic onto an index
        # that does not pass its own invariants.
        from .fsck import verify_any_index
        rep = verify_any_index(spark, index_dir,
                               deep=(verify == "deep")).collect()
        fails = [f"{r['check']}: expected {r['expected']} got "
                 f"{r['actual']} ({r['detail']})"
                 for r in rep if r["status"] == "fail"]
        if fails:
            raise ValueError(
                f"refusing to publish {index_dir}: fsck found "
                f"{len(fails)} failed check(s) — " + "; ".join(fails))
    import uuid

    versions = _alias_versions(spark, alias_dir)
    n = (versions[-1] + 1) if versions else 1
    tmp = f"{alias_dir}/.publish_tmp_{uuid.uuid4().hex}"
    (spark.createDataFrame([(index_dir,)], "target string")
     .coalesce(1).write.option("compression", INDEX_CODEC)
     .mode("overwrite").parquet(tmp))
    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path
    conf = spark._jsc.hadoopConfiguration()
    fs = hpath(alias_dir).getFileSystem(conf)
    # claim v=N with FileContext.rename and NO Options.Rename.OVERWRITE:
    # atomic, and it THROWS FileAlreadyExistsException when dst exists.
    # (FileSystem.rename is the wrong primitive here: into an existing
    # directory it moves the source INSIDE and returns true, so a losing
    # concurrent publisher would "succeed" while its pointer sits nested
    # and invisible — a silently lost publish.) tmp is a fully-committed
    # pointer dir (the parquet commit put _SUCCESS inside) BEFORE the
    # rename, so every v=N this protocol produces is complete: dead
    # half-publishes cannot exist and no reclaim path is needed. A v=N
    # WITHOUT _SUCCESS therefore came from outside the protocol; refuse
    # it rather than delete it — any auto-reclaim is check-then-delete,
    # and two reclaimers can destroy each other's committed pointer.
    dst = hpath(f"{alias_dir}/v={n}")
    fc = jvm.org.apache.hadoop.fs.FileContext.getFileContext(
        hpath(alias_dir).toUri(), conf)
    no_overwrite = spark.sparkContext._gateway.new_array(
        jvm.org.apache.hadoop.fs.Options.Rename, 0)
    try:
        fc.rename(hpath(tmp), dst, no_overwrite)
    except Exception as e:
        fs.delete(hpath(tmp), True)
        if "FileAlreadyExistsException" not in str(e):
            raise
        if fs.exists(hpath(f"{alias_dir}/v={n}/_SUCCESS")):
            raise RuntimeError(
                f"publish race: {alias_dir}/v={n} was claimed by a "
                f"concurrent publisher — retry to publish as v={n + 1}"
            ) from e
        raise RuntimeError(
            f"{alias_dir}/v={n} exists without _SUCCESS — it was not "
            f"produced by publish_index (this protocol renames only "
            f"fully-committed pointer dirs into place); remove the "
            f"directory manually, then retry") from e
    for old in versions[:max(0, len(versions) - (keep - 1))]:
        fs.delete(hpath(f"{alias_dir}/v={old}"), True)
    return n


def resolve_index_alias(spark: SparkSession, alias_dir: str) -> str:
    """Target path of the newest complete alias version; raises if
    `alias_dir` holds no complete version."""
    versions = _alias_versions(spark, alias_dir)
    if not versions:
        raise ValueError(f"{alias_dir} has no published alias version")
    return str(spark.read.parquet(f"{alias_dir}/v={versions[-1]}")
               .first()["target"])


def load_index(spark: SparkSession, out_dir: str) -> Index:
    paths = IndexPaths(out_dir)
    if not _path_exists(spark, paths.stats):
        # alias indirection: a directory holding v=N pointer versions
        # instead of index tables redirects to its newest target (ONE
        # level — an alias must name a real index, not another alias)
        versions = _alias_versions(spark, out_dir)
        if versions:
            target = resolve_index_alias(spark, out_dir)
            t = IndexPaths(target)
            if not _path_exists(spark, t.stats):
                raise ValueError(
                    f"alias {out_dir} points at {target}, which is not a "
                    f"built index (chained aliases are not followed)")
            paths = t
    stats = spark.read.parquet(paths.stats).first()
    if stats["prep_version"] != PREP_VERSION:
        raise ValueError(
            f"index built with prep {stats['prep_version']!r}, "
            f"engine expects {PREP_VERSION!r}")
    # a _stale marker (written by merge_batch/delete_docs BEFORE any other
    # mutation) means packed/ no longer reflects the row tables (merged
    # docs are missing from it): loaders must behave as if no packed store
    # exists, so lean-layout positional reads refuse, until compact_index
    # repacks
    if _path_exists(spark, paths.stale):
        packed = None
    else:
        try:
            packed = spark.read.parquet(paths.packed)
        except Exception:
            packed = None
    tokens = spark.read.parquet(paths.tokens)
    postings = spark.read.parquet(paths.postings)
    if _path_exists(spark, paths.tombstones):
        tombs = spark.read.parquet(paths.tombstones)
        tokens = _apply_tombstones(tokens, tombs)
        postings = _apply_tombstones(postings, tombs)
    return Index(
        paths=paths,
        tokens=tokens,
        postings=postings,
        terms=spark.read.parquet(paths.terms),
        n_docs=int(stats["n_docs"]),
        avgdl=float(stats["avgdl"]),
        config=stats["config"],
        n_buckets=int(stats["n_buckets"]),
        block_span=int(stats["block_span"]),
        packed=packed,
        gen=int(stats["gen"]),
    )


def index_stats(index: Index) -> DataFrame:
    """One-row introspection frame for a loaded index — the `\\di+`-style
    health check an operator runs before pointing traffic at an index:
    corpus stats from the build manifest (free), live dictionary/postings
    counts (two count-only column-pruned scans), and the physical layout
    flags (packed store live, generation).

    Columns: n_docs, avgdl_e6, n_terms, n_postings, n_buckets,
    block_span, config, packed (packed store readable right now — False
    while merges left it stale), gen."""
    spark = index.postings.sparkSession
    n_terms = index.terms.count()
    n_postings = index.postings.count()
    return spark.createDataFrame(
        [(index.n_docs, int(round(index.avgdl * 1_000_000)), n_terms,
          n_postings, index.n_buckets, index.block_span, index.config,
          index.packed is not None, index.gen)],
        "n_docs long, avgdl_e6 long, n_terms long, n_postings long, "
        "n_buckets int, block_span int, config string, packed boolean, "
        "gen long")
