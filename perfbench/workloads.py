"""The two workloads: ``index`` and ``headline``.

Each workload gets a started Spark session, a ``Tracer`` and a ``Run``
context, measures for ``run.seconds`` and fills the run's end-to-end,
detail and per-layer metrics. Corpus generation, oracle computation and
answer checks are the benchmark's own work: they happen outside every
timed region.
"""

from __future__ import annotations

import os
import random
import statistics
import time

import pyarrow as pa
import pyarrow.parquet as pq

from corpus import Profile, make_corpus, recrawl_batch
from oracle import OracleIndex, check_headline, check_topk
from tracing import mean_counters

CONFIG = "english"
K = 10
N_BUCKETS = 8

INDEX = Profile(n_files=450, tokens=120_000, ident_vocab=15_000)
# one long file in every batch, so batches cost the same whatever the seed
HEADLINE_BATCH = 200
HEADLINE = Profile(n_files=6 * HEADLINE_BATCH, tokens=220_000,
                   ident_vocab=4_000, long_files=6, long_every=HEADLINE_BATCH)
RECRAWL_SPLIT = (90, 24, 6)  # unchanged, changed, new files per round
RECRAWL_ROUNDS = 1
INCREMENTAL_KEYS = ("upsert_ms", "read_after_write_ms", "work_ratio",
                    "write_amp", "index_bytes_per_content_byte", "compact_s",
                    "compact_rewritten_mb")

# One query cycle: 6 bm25_topk, 3 search, 1 search_with_headlines, in
# order of cost. A search costs about five bm25 ops and a headlines op
# about twelve: with the bm25 ops first, every run's window holds all six
# of them, whose median is op_p50_ms.
SERVE_CYCLE = ("bm25:hot,rare", "bm25:hot,hot,rare", "bm25:hot,rare,rare,rare",
               "bm25:rare,rare", "bm25:hot,hot", "bm25:hot,rare,rare",
               "search:and_not", "search:phrase", "search:gap",
               "headlines:phrase")
FREQUENT_OPS = 9  # every window runs at least the bm25 and search ops

_ROW_SCHEMA = pa.schema([("doc_id", pa.int64()), ("repo", pa.string()),
                         ("path", pa.string()), ("commit", pa.string()),
                         ("lang", pa.string()), ("content", pa.string())])


class Run:
    """Per-run context: arguments, work directory, checks and results."""

    def __init__(self, seed, seconds, trace, work):
        self.seed = seed
        self.seconds, self.trace, self.work = seconds, trace, work
        self.attempted = 0
        self.failed = 0
        self.errors: list = []
        self.e2e: dict = {}
        self.detail: dict = {}
        self.layers: dict = {}
        self.phases = Phases()

    def check(self, what: str, reason: str | None) -> None:
        """Count one checked operation; a reason marks it wrong."""
        self.attempted += 1
        if reason is not None:
            self.failed += 1
            self.errors.append(f"{what}: {reason}")

    def path(self, *parts) -> str:
        return os.path.join(self.work, *parts)


class Phases:
    """Wall-clock seconds of each phase of a run, for the detail line."""

    def __init__(self):
        self.t = time.perf_counter()
        self.seconds: dict = {}

    def mark(self, name: str) -> None:
        now = time.perf_counter()
        self.seconds[name] = now - self.t
        self.t = now


def write_rows(rows, path: str) -> str:
    os.makedirs(path, exist_ok=True)
    cols = list(zip(*rows))
    table = pa.Table.from_arrays([pa.array(c) for c in cols],
                                 schema=_ROW_SCHEMA)
    pq.write_table(table, os.path.join(path, "part-0.parquet"))
    return path


def build_oracle(rows) -> OracleIndex:
    oracle = OracleIndex(CONFIG)
    for r in rows:
        oracle.put(r[0], r[5])
    return oracle


def dir_bytes(path: str) -> dict:
    """Size of each regular file under ``path``, keyed by relative path;
    Hadoop checksum side files are not index data."""
    out = {}
    for root, _, files in os.walk(path):
        for f in files:
            if f.endswith(".crc"):
                continue
            full = os.path.join(root, f)
            out[os.path.relpath(full, path)] = os.path.getsize(full)
    return out


def p50(xs: list) -> float:
    return statistics.median(xs) if xs else 0.0


# ---------------------------------------------------------------- queries

class QueryMaker:
    """Seeded query texts over one corpus, with terms split between hot
    lexemes (10% < df < 30%) and rare ones (df < 0.5%). The hot band's
    upper edge keeps a query's cost from swinging with the seed's pick."""

    def __init__(self, oracle: OracleIndex, corpus, rng: random.Random):
        from corpus import ENGLISH, LANGS, PARTS
        from pg_ts_semantic_headline_spark.functions.lexize import lexize_word

        self.rng = rng
        self.phrases = corpus.phrases
        n = len(oracle.docs)
        words = set(ENGLISH + PARTS) | {k for v in LANGS.values()
                                        for k in v[3]}
        hot = {}
        for w in sorted(words):
            lx = lexize_word(w, CONFIG)
            if lx is not None and 0.10 * n < oracle.df(lx) < 0.30 * n:
                hot.setdefault(lx, w)
        self.hot = sorted(hot.values())
        rare = []
        for r in corpus.rows[: min(len(corpus.rows), 400)]:
            for tok in r[5].split():
                w = "".join(c for c in tok if c.isalnum())
                if len(w) < 6 or not w.isalpha():
                    continue
                lx = lexize_word(w, CONFIG)
                if lx is not None and 1 <= oracle.df(lx) < 0.005 * n:
                    rare.append(w)
        self.rare = sorted(set(rare))
        if len(self.hot) < 4 or len(self.rare) < 8:
            raise RuntimeError("corpus too small for the query mix")

    def terms(self, spec: str) -> list:
        return [self.rng.choice(self.hot if s == "hot" else self.rare)
                for s in spec.split(",")]

    def phrase(self, level: str, three: bool) -> tuple:
        return self.phrases[level][1 if three else 0]

    def make(self, kind: str) -> tuple[str, str]:
        """(operation, tsquery text) for one SERVE_CYCLE entry."""
        op, spec = kind.split(":")
        if op == "bm25":
            return op, " | ".join(self.terms(spec))
        level = self.rng.choice(["high", "medium"])
        if spec == "and_not":
            a, b, c = self.rng.sample(self.hot, 3)
            return op, f"{a} & {b} & !{c}"
        if spec == "phrase":
            return op, " <-> ".join(self.phrase(level, self.rng.random() < .5))
        if spec == "gap":
            p = self.phrase(level, True)
            return op, f"({p[0]} <2> {p[2]}) & !{self.rng.choice(self.hot)}"
        return op, " <-> ".join(self.phrase("medium", False))


# ---------------------------------------------------------------- probes

def probe_kernels(run: Run, rows, oracle: OracleIndex) -> None:
    """Layer probes from outside: analyzer throughput and LRU hit ratio
    on this workload's vocabulary, and packed-block decode throughput."""
    from pg_ts_semantic_headline_spark.functions.lexize import (
        analyze_document, lexize_chunk)
    from pg_ts_semantic_headline_spark.plans.packing import (
        decode_block_positions, pack_block)

    lexize_chunk.cache_clear()
    words, t0 = 0, time.perf_counter()
    for r in rows:
        toks, _ = analyze_document(r[5], CONFIG)
        words += len(toks)
    dt = time.perf_counter() - t0
    info = lexize_chunk.cache_info()
    run.layers["functions.analyze_words_per_s"] = words / dt
    run.layers["functions.lexize_hit_ratio"] = info.hits / max(
        info.hits + info.misses, 1)

    longest = sorted(oracle.postings, key=lambda t: -len(oracle.postings[t]))
    blocks = []
    for term in longest[:48]:
        ids = sorted(oracle.postings[term])
        for i in range(0, len(ids), 128):
            chunk = ids[i:i + 128]
            pos = [oracle.docs[d][1][term] for d in chunk]
            payload = pack_block(chunk, [len(p) for p in pos],
                                 [oracle.docs[d][0] for d in chunk], pos,
                                 chunk[0])
            blocks.append((payload, chunk[0], chunk, pos))
    total = sum(len(b[0]) for b in blocks)
    for payload, base, chunk, pos in blocks[:64]:
        d, flat, counts = decode_block_positions(payload, base)
        run.check("decode_block_positions",
                  None if (list(d) == chunk and list(counts) == [
                      len(p) for p in pos] and list(flat) == [
                      x for p in pos for x in p]) else "decode mismatch")
    reps, t0 = 0, time.perf_counter()
    while time.perf_counter() - t0 < 0.5:
        for payload, base, _, _ in blocks:
            decode_block_positions(payload, base)
        reps += 1
    dt = time.perf_counter() - t0
    run.layers["packing.decode_mb_per_s"] = total * reps / dt / 1e6


def spark_layers(run: Run, prefix: str, recs: list) -> None:
    for k, v in mean_counters(recs).items():
        run.layers[f"spark.{prefix}.{k}"] = v


def span_layers(run: Run, tracer) -> None:
    run.layers["query_compiler.compile_ms"] = p50(
        tracer.span_ms("query_compiler"))
    run.layers["search.call_ms"] = p50(tracer.span_ms("plans.search.call"))
    run.layers["search.action_ms"] = p50(
        tracer.span_ms("plans.search.action"))


def build_layers(run: Run, metrics: dict) -> None:
    for st in ("tokens", "postings", "terms", "packed"):
        run.layers[f"index_build.{st}_s"] = metrics.get(f"{st}_sec", 0.0)
    run.layers["index_build.lineage_s"] = float(sum(
        v for k, v in metrics.items() if k.endswith("_lineage_sec")))


def index_layers(run: Run, index_dir: str | None) -> None:
    """MB on disk of each index table (0 without an index)."""
    sizes = dir_bytes(index_dir) if index_dir else {}
    for t in ("tokens", "postings", "packed", "terms"):
        run.layers[f"index.{t}_mb"] = sum(
            v for k, v in sizes.items() if k.startswith(t + os.sep)) / 1e6


# ---------------------------------------------------------------- query ops

def run_query(tracer, index, oracle, op: str, text: str, run: Run,
              traced: bool = True) -> tuple:
    """One timed query op, checked against the oracle afterwards.
    Returns (op record, result rows, compiled query)."""
    from pg_ts_semantic_headline_spark.plans.query_compiler import to_tspquery
    from pg_ts_semantic_headline_spark.plans.search import (
        bm25_topk, search, search_with_headlines)

    fn = {"bm25": bm25_topk, "search": search,
          "headlines": search_with_headlines}[op]
    with tracer.op(op, traced=traced) as rec:
        with tracer.span("query_compiler"):
            q = to_tspquery(CONFIG, text)
        with tracer.span("plans.search.call"):
            df = fn(index, q, k=K)
        with tracer.span("plans.search.action"):
            rows = df.collect()
    rec["query"] = text
    want, scores = oracle.search(q, K, boolean=op != "bm25")
    got = [(int(r["doc_id"]), float(r["score"])) for r in rows]
    reason = check_topk(got, want, scores)
    if reason is None and op == "headlines":
        for r in rows:
            reason = check_headline(r["headline"], q, require_mark=True)
            if reason:
                break
    run.check(f"{op} {text!r}", reason)
    return rec, rows, q


def check_fast_path(rows, q, run: Run, docs_df) -> None:
    """The index fast path must equal the ad-hoc ts_fast_headline for the
    same documents."""
    from pyspark.sql import functions as F
    from pg_ts_semantic_headline_spark.plans.analyze import with_analysis
    from pg_ts_semantic_headline_spark.plans.headline import ts_fast_headline

    ids = [int(r["doc_id"]) for r in rows]
    sub = docs_df.where(F.col("doc_id").isin(ids)).select("doc_id", "content")
    adhoc = {int(r["doc_id"]): r["headline"] for r in
             ts_fast_headline(with_analysis(sub, config=CONFIG), q).collect()}
    fast = {int(r["doc_id"]): r["headline"] for r in rows}
    bad = [d for d in ids if fast[d] != adhoc.get(d)]
    run.check("headline fast path == ad-hoc",
              f"docs {bad[:5]} differ" if bad else None)


def check_sha(index, oracle, run: Run, what: str) -> None:
    got = {int(r["doc_id"]): r["sha256"]
           for r in index.tokens.select("doc_id", "sha256").collect()}
    want = {d: v[2] for d, v in oracle.docs.items()}
    run.check(f"{what}: tokens sha256 per row",
              None if got == want else
              f"{len(set(got.items()) ^ set(want.items()))} rows differ")


# ---------------------------------------------------------------- index

def _same_topk(a: list, b: list) -> bool:
    return len(a) == len(b) and all(
        da == db and abs(sa - sb) <= 1e-9 for (da, sa), (db, sb) in zip(a, b))


def _compact_and_check(spark, tracer, run: Run, oracle, idx_dir: str,
                       last: tuple) -> tuple:
    """compact_index, then the last read again: top-k must not change.
    Returns (compaction seconds, MB of files the compaction rewrote)."""
    from pg_ts_semantic_headline_spark.plans.index_build import load_index
    from pg_ts_semantic_headline_spark.streaming.incremental import (
        compact_index)

    before = dir_bytes(idx_dir)
    with tracer.op("compact") as rec:
        with tracer.span("streaming.incremental.compact"):
            compact_index(spark, idx_dir)
    after = dir_bytes(idx_dir)
    index_ = load_index(spark, idx_dir)
    _, rows, _ = run_query(tracer, index_, oracle, "search", last[0],
                           run, traced=False)
    pre = [(int(r["doc_id"]), float(r["score"])) for r in last[1]]
    post = [(int(r["doc_id"]), float(r["score"])) for r in rows]
    run.check("top-k across compact_index",
              None if _same_topk(pre, post) else f"{pre} != {post}")
    check_sha(index_, oracle, run, "after compaction")
    rewritten = sum(v for k, v in after.items() if before.get(k) != v)
    return rec["wall_ms"] / 1000.0, rewritten / 1e6


def index(spark, tracer, run: Run, t_start: float) -> None:
    """Cold build and a warm-up query (the set-up), then a closed-loop
    query mix; traced runs add headlines over the index, a recrawl round
    with a read after the write, then compaction."""
    from pg_ts_semantic_headline_spark.plans.index_build import (
        build_index, load_index)

    session_s = time.perf_counter() - t_start
    phases = run.phases
    phases.mark("session")
    corpus = make_corpus(run.seed, INDEX)
    src = write_rows(corpus.rows, run.path("corpus"))
    oracle = build_oracle(corpus.rows)
    rng = random.Random(run.seed * 7 + 1)
    qm = QueryMaker(oracle, corpus, rng)
    if run.trace:
        probe_kernels(run, corpus.rows, oracle)
    phases.mark("generate+oracle")
    # ---- set-up: a cold build in a fresh process, then one warm-up query
    docs = spark.read.parquet(src)
    idx_dir = run.path("index")
    metrics: dict = {}
    with tracer.op("build") as build_rec:
        with tracer.span("plans.index_build"):
            build_index(spark, docs, idx_dir, config=CONFIG,
                        n_buckets=N_BUCKETS, resume=False, metrics=metrics)
    build_s = build_rec["wall_ms"] / 1000.0
    index_ = load_index(spark, idx_dir)
    check_sha(index_, oracle, run, "build")
    phases.mark("build+check")

    t = time.perf_counter()
    run_query(tracer, index_, oracle, *qm.make("bm25:hot,rare"), run,
              traced=False)
    setup_s = session_s + build_s + time.perf_counter() - t
    phases.mark("warm-up")

    # ---- closed-loop query mix ----
    recs, extra, fast_path = [], 0.0, None
    t0 = time.perf_counter()
    i = 0
    while time.perf_counter() - t0 < run.seconds or i < FREQUENT_OPS:
        op, text = qm.make(SERVE_CYCLE[i % len(SERVE_CYCLE)])
        rec, rows, q = run_query(tracer, index_, oracle, op, text, run)
        recs.append(rec)
        if op == "headlines" and fast_path is None:
            fast_path = (rec, rows, q)
        i += 1
    elapsed = time.perf_counter() - t0
    n_loop = len(recs)
    phases.mark("query loop")
    if run.trace and fast_path is None:
        # a run too short to reach the cycle's headlines op times one here
        rec, rows, q = run_query(tracer, index_, oracle,
                                 *qm.make(SERVE_CYCLE[-1]), run)
        recs.append(rec)
        fast_path = (rec, rows, q)
    if fast_path is not None:
        rec, rows, q = fast_path
        check_fast_path(rows, q, run, docs)
        if run.trace:
            # plans.headline's share: the same query without headlines
            base = run_query(tracer, index_, oracle, "search",
                             rec["query"], run, traced=False)[0]
            extra = rec["wall_ms"] - base["wall_ms"]
        phases.mark("headlines+fast-path check")

    if run.trace:
        # recrawl and compaction run in traced runs only: an upsert and a
        # repack of every touched bucket cost more than the rest of a run
        _recrawl(spark, tracer, run, oracle, qm, idx_dir, corpus, rng)
        phases.mark("recrawl+compact")

    lat = {k: [r["wall_ms"] for r in recs if r["kind"] == k]
           for k in ("bm25", "search", "headlines")}
    b = sorted(lat["bm25"])
    # op_p50_ms is the mix's most frequent op (6 in 10): the median of the
    # whole window would sit on the boundary between bm25 and search
    # queries/s over the cycle's first FREQUENT_OPS ops, a fixed mix: where
    # a window happens to end would otherwise decide whether it holds a
    # headlines op five times as slow as the rest
    frequent_s = sum(r["wall_ms"] for r in recs[:FREQUENT_OPS]) / 1000.0
    run.e2e.update(setup_s=setup_s, throughput_per_s=FREQUENT_OPS / frequent_s,
                   op_p50_ms=p50(b))
    run.detail.update(
        build_files_per_s=(len(corpus.rows) / build_s, "1/s"),
        queries_per_s=(n_loop / elapsed, "1/s"),
        bm25_p50_ms=(p50(b), "ms"),
        search_p50_ms=(p50(lat["search"]), "ms"),
        session_s=(session_s, "s"),
        query_samples=({k: len(v) for k, v in lat.items()}, "count"))
    if lat["headlines"]:
        run.detail["headlines_p50_ms"] = (p50(lat["headlines"]), "ms")
    if len(b) >= 100:
        run.detail["bm25_p90_ms"] = (b[int(0.9 * len(b))], "ms")
    if run.trace:
        spark_layers(run, "op", [r for r in recs if r["traced"]])
        spark_layers(run, "build", [build_rec])
        span_layers(run, tracer)
        build_layers(run, metrics)
        index_layers(run, idx_dir)
        run.layers["headline.extra_ms"] = extra


def _recrawl(spark, tracer, run: Run, oracle, qm, idx_dir: str, corpus,
             rng: random.Random) -> None:
    """Recrawl rounds (upsert, then a read of the reloaded index), then
    compaction; fills the streaming.incremental layer metrics."""
    from pg_ts_semantic_headline_spark.plans.index_build import load_index
    from pg_ts_semantic_headline_spark.streaming.incremental import (
        upsert_documents)

    live = {r[0]: r for r in corpus.rows}
    batches = []
    for i in range(RECRAWL_ROUNDS):
        batch, split, ingested = recrawl_batch(corpus, live, rng,
                                               *RECRAWL_SPLIT)
        batches.append((write_rows(batch, run.path("batch", str(i))),
                        batch, split, ingested))

    upserts, reads, last = [], [], None
    offered = work = added = changed_bytes = 0
    for rnd, (path, batch, split, ingested) in enumerate(batches):
        before = sum(dir_bytes(idx_dir).values())
        with tracer.op("upsert") as rec:
            with tracer.span("streaming.incremental.upsert"):
                report = upsert_documents(spark, idx_dir,
                                          spark.read.parquet(path))
        upserts.append(rec["wall_ms"])
        run.check(f"upsert round {rnd}",
                  None if report == split else f"{report} != {split}")
        added += sum(dir_bytes(idx_dir).values()) - before
        for r in batch:
            if r[0] in ingested:
                oracle.put(r[0], r[5])
                changed_bytes += len(r[5].encode())
        offered += len(batch)
        work += report.get("changed", 0) + report.get("new", 0)
        index_ = load_index(spark, idx_dir)
        # boolean, not phrase: between an upsert and compact_index the
        # default (lean) layout has no positional store to read
        text = qm.make("search:and_not")[1]
        rec, rows, _ = run_query(tracer, index_, oracle, "search",
                                 text, run)
        reads.append(rec["wall_ms"])
        last = (text, rows)
    want = (RECRAWL_SPLIT[1] + RECRAWL_SPLIT[2]) / sum(RECRAWL_SPLIT)
    run.check("work_ratio matches the generator",
              None if abs(work / offered - want) < 1e-12
              else f"{work / offered} != {want}")
    content_bytes = sum(len(r[5].encode()) for r in live.values())
    index_bytes = sum(dir_bytes(idx_dir).values())
    compact_s, rewritten_mb = _compact_and_check(spark, tracer, run, oracle,
                                                 idx_dir, last)
    run.layers.update({
        "incremental.upsert_ms": p50(upserts),
        "incremental.read_after_write_ms": p50(reads),
        "incremental.work_ratio": work / offered,
        "incremental.write_amp": added / max(changed_bytes, 1),
        "incremental.index_bytes_per_content_byte":
            index_bytes / content_bytes,
        "incremental.compact_s": compact_s,
        "incremental.compact_rewritten_mb": rewritten_mb})


# ---------------------------------------------------------------- headline

def headline(spark, tracer, run: Run, t_start: float) -> None:
    from pyspark.sql import functions as F
    from pg_ts_semantic_headline_spark.plans.analyze import with_analysis
    from pg_ts_semantic_headline_spark.plans.headline import (
        ts_fast_headline, ts_semantic_headline)
    from pg_ts_semantic_headline_spark.plans.query_compiler import to_tspquery

    session_s = time.perf_counter() - t_start
    phases = run.phases
    phases.mark("session")
    corpus = make_corpus(run.seed, HEADLINE)
    src = write_rows(corpus.rows, run.path("corpus"))
    oracle = build_oracle(corpus.rows)
    if run.trace:
        probe_kernels(run, corpus.rows, oracle)
    phases.mark("generate+oracle")
    t = time.perf_counter()
    docs = spark.read.parquet(src).select("doc_id", "content").cache()
    n_docs = docs.count()

    def batch_query(i):
        # 2-3 word phrases; the medium and high plants are in 3-12% of files
        level = ("medium", "high")[i % 2]
        return " <-> ".join(corpus.phrases[level][(i // 2) % 2])

    def one(i, traced=True, size=HEADLINE_BATCH):
        lo = (i * HEADLINE_BATCH) % n_docs
        hi = lo + size
        batch = docs.where((F.col("doc_id") >= lo) & (F.col("doc_id") < hi))
        text = batch_query(i)
        with tracer.op("headline", traced=traced) as rec:
            with tracer.span("query_compiler"):
                q = to_tspquery(CONFIG, text)
            t = time.perf_counter()
            with tracer.span("plans.headline.fast"):
                fast = ts_fast_headline(with_analysis(batch, config=CONFIG),
                                        q).collect()
            rec["fast_ms"] = (time.perf_counter() - t) * 1000.0
            t = time.perf_counter()
            with tracer.span("plans.headline.semantic"):
                sem = ts_semantic_headline(batch, q).collect()
            rec["sem_ms"] = (time.perf_counter() - t) * 1000.0
        ids = set(range(lo, min(hi, n_docs)))
        want = oracle.matching(q.root) & ids
        got = {int(r["doc_id"]) for r in fast}
        reason = None if got == want else (
            f"fast headline docs {sorted(got ^ want)[:5]} differ")
        for r in fast:
            reason = reason or check_headline(r["headline"], q, True)
        run.check(f"ts_fast_headline {text!r} @{lo}", reason)
        reason = None if {int(r["doc_id"]) for r in sem} == ids else (
            "semantic headline missing docs")
        for r in sem:
            reason = reason or check_headline(r["headline"], q, False)
        run.check(f"ts_semantic_headline {text!r} @{lo}", reason)
        rec["docs"] = len(ids)
        return rec

    one(0, traced=False, size=20)  # warm-up: starts the Python workers
    setup_s = session_s + time.perf_counter() - t
    phases.mark("cache+warm-up")

    recs = []
    t0 = time.perf_counter()
    i = 1
    while time.perf_counter() - t0 < run.seconds:
        recs.append(one(i))
        i += 1
    elapsed = time.perf_counter() - t0
    phases.mark("headline loop")
    n = sum(r["docs"] for r in recs)
    fast_s = sum(r["fast_ms"] for r in recs) / 1000.0
    sem_s = sum(r["sem_ms"] for r in recs) / 1000.0
    run.e2e.update(setup_s=setup_s, throughput_per_s=2 * n / elapsed,
                   op_p50_ms=p50([r["wall_ms"] for r in recs]))
    run.detail.update(
        headline_docs_per_s=(n / fast_s, "1/s"),
        semantic_headline_docs_per_s=(n / sem_s, "1/s"),
        headline_ms_per_1k_docs=(fast_s * 1e6 / n, "ms"),
        calls=(len(recs), "count"))
    if run.trace:
        spark_layers(run, "op", [r for r in recs if r["traced"]])
        spark_layers(run, "build", [])
        span_layers(run, tracer)
        build_layers(run, {})
        index_layers(run, None)
        run.layers["headline.extra_ms"] = p50(
            [r["sem_ms"] - r["fast_ms"] for r in recs])
        for k in INCREMENTAL_KEYS:
            run.layers[f"incremental.{k}"] = 0.0
    docs.unpersist()


WORKLOADS = {"index": index, "headline": headline}
