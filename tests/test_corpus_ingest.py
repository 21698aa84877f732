"""Streaming/incremental corpus preparation: cross-batch exact dedup via
the persisted fingerprint store, idempotent replays, per-batch reports."""

import pytest
from pyspark.sql import functions as F

from pg_ts_semantic_headline_spark.streaming.corpus_ingest import (
    attach_corpus_preparer, prepare_corpus_batch)


@pytest.fixture()
def batches(spark):
    b1 = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon zeta"),
         (2, "one two three four five six seven"),
         (3, "one two three four five six seven"),      # in-batch dup of 2
         (4, "tiny")],                                   # too_short
        "doc_id long, text string")
    b2 = spark.createDataFrame(
        [(10, "alpha beta gamma delta epsilon zeta"),    # cross-batch dup of 1
         (11, "fresh words never seen before anywhere"),
         (12, "fresh words never seen before anywhere"),  # in-batch dup of 11
         (13, "one two three four five six seven")],      # cross-batch dup of 2
        "doc_id long, text string")
    return b1, b2


class TestPrepareCorpusBatch:
    def test_cross_batch_exact_dedup(self, spark, batches, tmp_path):
        b1, b2 = batches
        out = str(tmp_path / "corpus")
        prepare_corpus_batch(b1, out, 0, min_tokens=5)
        prepare_corpus_batch(b2, out, 1, min_tokens=5)

        kept = spark.read.parquet(f"{out}/data")
        ids = sorted(r["doc_id"] for r in kept.collect())
        # batch 0: 1 and 2 kept (3 in-batch dup, 4 too short);
        # batch 1: only 11 survives (10/13 cross-batch dups, 12 in-batch)
        assert ids == [1, 2, 11]
        # partition column records provenance
        assert sorted(r["batch_id"] for r in kept.collect()) == [0, 0, 1]

    def test_per_batch_reports(self, spark, batches, tmp_path):
        b1, b2 = batches
        out = str(tmp_path / "corpus")
        prepare_corpus_batch(b1, out, 0, min_tokens=5)
        prepare_corpus_batch(b2, out, 1, min_tokens=5)
        rep = {r["batch_id"]: r for r in
               spark.read.parquet(f"{out}/_report").collect()}
        assert rep[0]["n_input"] == 4 and rep[0]["n_kept"] == 2
        assert rep[0]["n_exact_dup"] == 1 and rep[0]["n_too_short"] == 1
        # batch 1: 10 and 13 cross-batch, 12 in-batch -> 3 exact_dup
        assert rep[1]["n_input"] == 4 and rep[1]["n_kept"] == 1
        assert rep[1]["n_exact_dup"] == 3

    def test_replay_is_idempotent(self, spark, batches, tmp_path):
        b1, b2 = batches
        out = str(tmp_path / "corpus")
        prepare_corpus_batch(b1, out, 0, min_tokens=5)
        prepare_corpus_batch(b2, out, 1, min_tokens=5)
        # replay batch 1 (checkpoint-uncommitted crash): same result set,
        # no duplicate rows, and its own prior fingerprints are ignored
        prepare_corpus_batch(b2, out, 1, min_tokens=5)
        ids = sorted(r["doc_id"] for r in
                     spark.read.parquet(f"{out}/data").collect())
        assert ids == [1, 2, 11]

    def test_first_batch_without_store(self, spark, batches, tmp_path):
        b1, _ = batches
        out = str(tmp_path / "corpus")
        prepare_corpus_batch(b1, out, 0, min_tokens=5)
        assert sorted(r["doc_id"] for r in
                      spark.read.parquet(f"{out}/data").collect()) == [1, 2]


def test_streaming_corpus_prep(spark, batches, tmp_path):
    """A real (availableNow, one file per trigger) stream: kept set equals
    the sequential batch-API result; exactly one copy of each duplicated
    text survives regardless of batch order."""
    b1, b2 = batches
    src = str(tmp_path / "src")
    b1.coalesce(1).write.parquet(src)
    b2.coalesce(1).write.mode("append").parquet(src)
    stream = (spark.readStream.schema("doc_id long, text string")
              .option("maxFilesPerTrigger", 1).parquet(src))
    out = str(tmp_path / "corpus")
    q = attach_corpus_preparer(stream, out, str(tmp_path / "ckpt"),
                               min_tokens=5)
    q.awaitTermination(120)

    kept = spark.read.parquet(f"{out}/data").collect()
    texts = [r["text"] for r in kept]
    # every distinct eligible text survives exactly once, whatever the
    # file-discovery order was
    assert sorted(texts) == [
        "alpha beta gamma delta epsilon zeta",
        "fresh words never seen before anywhere",
        "one two three four five six seven"]
    reports = spark.read.parquet(f"{out}/_report").collect()
    assert sum(r["n_kept"] for r in reports) == 3
    assert sum(r["n_input"] for r in reports) == 8


BASE = ("alpha beta gamma delta epsilon zeta eta theta iota kappa "
        "lam mu nu xi omicron pi rho sigma tau upsilon")


class TestCrossBatchNearDedup:
    def _batches(self, spark):
        b1 = spark.createDataFrame(
            [(1, BASE),
             (2, "totally different words entirely unrelated content here")],
            "doc_id long, text string")
        b2 = spark.createDataFrame(
            [(10, BASE + " extra"),   # near-dup of 1 (19/20 shingles shared)
             (11, "fresh unique text with completely novel vocabulary")],
            "doc_id long, text string")
        return b1, b2

    def test_near_dup_across_batches(self, spark, tmp_path):
        b1, b2 = self._batches(spark)
        out = str(tmp_path / "c")
        prepare_corpus_batch(b1, out, 0, min_tokens=3, cross_near_dedup=True)
        prepare_corpus_batch(b2, out, 1, min_tokens=3, cross_near_dedup=True)
        kept = sorted(r["doc_id"] for r in
                      spark.read.parquet(f"{out}/data").collect())
        assert kept == [1, 2, 11]
        rep = {r["batch_id"]: r for r in
               spark.read.parquet(f"{out}/_report").collect()}
        assert rep[1]["n_near_dup"] == 1 and rep[1]["n_kept"] == 1

    def test_store_holds_only_kept_rows(self, spark, tmp_path):
        b1, b2 = self._batches(spark)
        out = str(tmp_path / "c")
        prepare_corpus_batch(b1, out, 0, min_tokens=3, cross_near_dedup=True)
        prepare_corpus_batch(b2, out, 1, min_tokens=3, cross_near_dedup=True)
        store_ids = {r["doc_id"] for r in
                     spark.read.parquet(f"{out}/_minhash").collect()}
        assert store_ids == {1, 2, 11}   # dropped doc 10 must not shadow

    def test_replay_idempotent(self, spark, tmp_path):
        b1, b2 = self._batches(spark)
        out = str(tmp_path / "c")
        prepare_corpus_batch(b1, out, 0, min_tokens=3, cross_near_dedup=True)
        prepare_corpus_batch(b2, out, 1, min_tokens=3, cross_near_dedup=True)
        prepare_corpus_batch(b2, out, 1, min_tokens=3, cross_near_dedup=True)
        kept = sorted(r["doc_id"] for r in
                      spark.read.parquet(f"{out}/data").collect())
        assert kept == [1, 2, 11]

    def test_param_mismatch_raises(self, spark, tmp_path):
        b1, b2 = self._batches(spark)
        out = str(tmp_path / "c")
        prepare_corpus_batch(b1, out, 0, min_tokens=3, cross_near_dedup=True)
        with pytest.raises(ValueError, match="refusing to mix"):
            prepare_corpus_batch(b2, out, 1, min_tokens=3,
                                 cross_near_dedup=True, near_num_hashes=32)


class TestCompactCorpusStores:
    def test_fold_preserves_dedup(self, spark, batches, tmp_path):
        from pg_ts_semantic_headline_spark.streaming.corpus_ingest import (
            compact_corpus_stores)
        b1, b2 = batches
        out = str(tmp_path / "c")
        prepare_corpus_batch(b1, out, 0, min_tokens=5)
        prepare_corpus_batch(b2, out, 1, min_tokens=5)
        b3 = spark.createDataFrame(
            [(20, "third batch brand new content row")],
            "doc_id long, text string")
        prepare_corpus_batch(b3, out, 2, min_tokens=5)

        stats = compact_corpus_stores(spark, out)
        assert stats["_seen"] == 2   # batches 0 and 1 folded, 2 kept
        seen = spark.read.parquet(f"{out}/_seen")
        assert (sorted({r["batch_id"] for r in seen.collect()}) == [0, 2])

        # dedup against FOLDED history still works: a dup of a batch-0
        # text arriving in batch 3 is dropped
        b4 = spark.createDataFrame(
            [(30, "alpha beta gamma delta epsilon zeta"),
             (31, "genuinely new final batch text row")],
            "doc_id long, text string")
        prepare_corpus_batch(b4, out, 3, min_tokens=5)
        kept = sorted(r["doc_id"] for r in
                      spark.read.parquet(f"{out}/data").collect())
        assert kept == [1, 2, 11, 20, 31]

    def test_replay_of_max_batch_survives_compaction(self, spark, batches,
                                                     tmp_path):
        from pg_ts_semantic_headline_spark.streaming.corpus_ingest import (
            compact_corpus_stores)
        b1, b2 = batches
        out = str(tmp_path / "c")
        prepare_corpus_batch(b1, out, 0, min_tokens=5)
        prepare_corpus_batch(b2, out, 1, min_tokens=5)
        compact_corpus_stores(spark, out)   # default upto: keeps batch 1
        # a crash-replay of the newest batch must not self-dedup
        prepare_corpus_batch(b2, out, 1, min_tokens=5)
        kept = sorted(r["doc_id"] for r in
                      spark.read.parquet(f"{out}/data").collect())
        assert kept == [1, 2, 11]

    def test_noop_on_single_batch(self, spark, batches, tmp_path):
        from pg_ts_semantic_headline_spark.streaming.corpus_ingest import (
            compact_corpus_stores)
        b1, _ = batches
        out = str(tmp_path / "c")
        prepare_corpus_batch(b1, out, 0, min_tokens=5)
        assert compact_corpus_stores(spark, out) == {}


class TestIndexedIngest:
    def _seed_index(self, spark, tmp_path):
        from pg_ts_semantic_headline_spark.plans.index_build import (
            build_index)
        idx = str(tmp_path / "idx")
        seed = spark.createDataFrame(
            [(100, "seed document about spark windows and batches")],
            "doc_id long, content string")
        build_index(spark, seed, idx, config="simple", n_buckets=4,
                    block_span=8)
        return idx

    def test_kept_rows_reach_the_index(self, spark, batches, tmp_path):
        from pg_ts_semantic_headline_spark.plans.index_build import (
            load_index)
        from pg_ts_semantic_headline_spark.plans.search import bm25_topk
        idx = self._seed_index(spark, tmp_path)
        b1, b2 = batches
        out = str(tmp_path / "c")
        prepare_corpus_batch(b1, out, 0, min_tokens=5, index_dir=idx)
        prepare_corpus_batch(b2, out, 1, min_tokens=5, index_dir=idx)
        index = load_index(spark, idx)
        live = sorted(r["doc_id"] for r in
                      index.tokens.select("doc_id").collect())
        assert live == [1, 2, 11, 100]   # kept rows + the seed doc
        hits = [r["doc_id"] for r in
                bm25_topk(index, ["fresh"], k=5).collect()]
        assert hits == [11]

    def test_replayed_merge_is_swept(self, spark, batches, tmp_path):
        from pg_ts_semantic_headline_spark.plans.index_build import (
            load_index)
        idx = self._seed_index(spark, tmp_path)
        b1, b2 = batches
        out = str(tmp_path / "c")
        prepare_corpus_batch(b1, out, 0, min_tokens=5, index_dir=idx)
        prepare_corpus_batch(b2, out, 1, min_tokens=5, index_dir=idx)
        # checkpoint-uncommitted crash replay of batch 1
        prepare_corpus_batch(b2, out, 1, min_tokens=5, index_dir=idx)
        index = load_index(spark, idx)
        live = sorted(r["doc_id"] for r in
                      index.tokens.select("doc_id").collect())
        assert live == [1, 2, 11, 100]   # no duplicate doc 11 rows
        # postings for doc 11 are single-generation too
        n_terms_11 = (index.postings.where(F.col("doc_id") == 11)
                      .select("term").distinct().count())
        n_rows_11 = index.postings.where(F.col("doc_id") == 11).count()
        assert n_rows_11 == n_terms_11


def test_streaming_with_index_and_periodic_compaction(spark, batches,
                                                      tmp_path):
    """compact_every=1: after the stream drains, the dedup stores are
    folded and the index is repacked (packed store restored)."""
    from pg_ts_semantic_headline_spark.plans.index_build import (
        build_index, load_index)
    b1, b2 = batches
    idx = str(tmp_path / "idx")
    build_index(spark, spark.createDataFrame(
        [(100, "seed document about spark windows and batches")],
        "doc_id long, content string"), idx, config="simple",
        n_buckets=4, block_span=8)
    src = str(tmp_path / "src")
    b1.coalesce(1).write.parquet(src)
    b2.coalesce(1).write.mode("append").parquet(src)
    stream = (spark.readStream.schema("doc_id long, text string")
              .option("maxFilesPerTrigger", 1).parquet(src))
    out = str(tmp_path / "corpus")
    q = attach_corpus_preparer(stream, out, str(tmp_path / "ckpt"),
                               min_tokens=5, index_dir=idx,
                               compact_every=1)
    q.awaitTermination(180)
    index = load_index(spark, idx)
    assert index.packed is not None            # packed store restored
    live = sorted(r["doc_id"] for r in
                  index.tokens.select("doc_id").collect())
    # one indexed copy of each distinct eligible text + the seed doc
    # (which copy survives depends on file-discovery order)
    assert len(live) == 4 and 100 in live


class TestCrossBatchSubstringDedup:
    P = "red orange yellow green blue indigo violet ultra"   # 8 tokens

    def test_cross_batch_cut_and_replay(self, spark, tmp_path):
        from pg_ts_semantic_headline_spark.operators.dedup import (
            dedup_substrings)

        out = str(tmp_path / "sub")
        b1 = spark.createDataFrame(
            [(1, f"start {self.P} tail words here now"),
             (2, "plain unrelated document body text")],
            "doc_id long, text string")
        b2 = spark.createDataFrame(
            [(10, f"prefix {self.P} suffix tokens extra"),     # later copy
             (11, f"{self.P} {self.P} own repeat too")],        # 2 copies
            "doc_id long, text string")
        prepare_corpus_batch(b1, out, 0, min_tokens=2,
                             cross_substring_dedup_n=8)
        prepare_corpus_batch(b2, out, 1, min_tokens=2,
                             cross_substring_dedup_n=8)
        kept = {r["doc_id"]: r for r in
                spark.read.parquet(f"{out}/data").collect()}
        assert self.P in kept[1]["text"]                       # first kept
        assert kept[1]["n_substr_tokens_removed"] == 0
        assert kept[10]["text"] == "prefix suffix tokens extra"
        assert kept[10]["n_substr_tokens_removed"] == 8
        # doc 11: BOTH copies cut — the first occurrence lives in batch 0
        assert kept[11]["text"] == "own repeat too"
        assert kept[11]["n_substr_tokens_removed"] == 16

        # stream == batch: same corpus through the one-shot operator
        both = b1.unionByName(b2)
        want = {r["doc_id"]: r for r in
                dedup_substrings(both, n=8).collect()}
        for d in (1, 2, 10, 11):
            assert kept[d]["text"] == want[d]["text_dedup"], d

        # replay of batch 1 is byte-identical (store filter < batch_id)
        prepare_corpus_batch(b2, out, 1, min_tokens=2,
                             cross_substring_dedup_n=8)
        kept2 = {r["doc_id"]: r["text"] for r in
                 spark.read.parquet(f"{out}/data").collect()}
        assert kept2[10] == kept[10]["text"]
        assert kept2[11] == kept[11]["text"]

    def test_dropped_docs_do_not_register(self, spark, tmp_path):
        out = str(tmp_path / "sub2")
        # the only holder of P is dropped (too_short threshold > doc len)
        b1 = spark.createDataFrame(
            [(1, self.P)], "doc_id long, text string")
        b2 = spark.createDataFrame(
            [(10, f"keeper doc with {self.P} inside it yes")],
            "doc_id long, text string")
        prepare_corpus_batch(b1, out, 0, min_tokens=10,
                             cross_substring_dedup_n=8)
        prepare_corpus_batch(b2, out, 1, min_tokens=2,
                             cross_substring_dedup_n=8)
        kept = {r["doc_id"]: r for r in
                spark.read.parquet(f"{out}/data").collect()}
        assert list(kept) == [10]
        # batch 0's doc never shipped, so its windows never registered:
        # doc 10 keeps the passage
        assert self.P in kept[10]["text"]

    def test_meta_pins_n_and_kwarg_conflict(self, spark, tmp_path):
        out = str(tmp_path / "sub3")
        b = spark.createDataFrame([(1, "a b c d e f g h i")],
                                  "doc_id long, text string")
        prepare_corpus_batch(b, out, 0, min_tokens=2,
                             cross_substring_dedup_n=8)
        with pytest.raises(ValueError, match="built with n=8"):
            prepare_corpus_batch(b, out, 1, min_tokens=2,
                                 cross_substring_dedup_n=4)
        with pytest.raises(ValueError, match="not\\s+both"):
            prepare_corpus_batch(b, out, 1, min_tokens=2,
                                 cross_substring_dedup_n=8,
                                 substring_dedup_n=8)

    def test_compaction_folds_substr_store(self, spark, tmp_path):
        from pg_ts_semantic_headline_spark.streaming.corpus_ingest import (
            compact_corpus_stores)

        out = str(tmp_path / "sub4")
        for i, txt in enumerate(
                [f"one {self.P} two",
                 "other words etc making this batch long enough to emit",
                 "third batch here now also with an eight token window"]):
            prepare_corpus_batch(
                spark.createDataFrame([(100 + i, txt)],
                                      "doc_id long, text string"),
                out, i, min_tokens=2, cross_substring_dedup_n=8)
        stats = compact_corpus_stores(spark, out)
        assert stats.get("_substr/data") == 2
        # dedup against folded store still works
        prepare_corpus_batch(
            spark.createDataFrame([(200, f"copy {self.P} again")],
                                  "doc_id long, text string"),
            out, 3, min_tokens=2, cross_substring_dedup_n=8)
        kept = {r["doc_id"]: r["text"] for r in
                spark.read.parquet(f"{out}/data").collect()}
        assert kept[200] == "copy again"
