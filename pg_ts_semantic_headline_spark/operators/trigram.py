"""Trigram index: pg_trgm-style substring / LIKE / regex acceleration and
trigram similarity over a document corpus — the classic companion to the
reference's fulltext pipeline for code-search workloads (identifiers and
phrases that stemmed tsvector search cannot express).

Semantics follow the published pg_trgm algorithm (PostgreSQL docs, module
pg_trgm): lowercase the text, split into alphanumeric word runs, pad every
word with two leading and one trailing space, and take every 3-character
window. The trigram set of a document is the DISTINCT union over its words.
We pin "alphanumeric" to ASCII [a-z0-9] so the Spark (Java regex) and
DuckDB-oracle (RE2) extractions are bit-identical; anything else is a
separator on both engines.

Index layout (100 TB shape, mirrors plans/index_build.py):

- postings/  bucket=<b>/ (tg, doc_id, gen) distinct rows, directory-
             partitioned by bucket = pmod(xxhash64(tg), n_buckets) and
             sorted by tg within files, so a query's trigrams — computed
             DRIVER-side with the pure-Python xxhash64 replica — prune to
             their bucket directories and row-group ranges. No shuffle at
             query time: scan → local partial agg → small AND-count agg.
- docstats/  (doc_id, n_trigrams, gen) — similarity's |T(doc)| without
             touching postings twice.
- tombstones/ (doc_id, gen): a tombstone kills rows with gen <= its gen,
             so delete-then-add of a doc_id (replace) works; folded in by
             `compact_trigram_index`.
- meta/      n_buckets, max_gen.

Query planning:

- substring/LIKE/regex: extract trigrams that MUST occur in any matching
  document (see `pattern_trigrams`); candidates are docs containing ALL of
  them (AND-intersection = count == n over the pruned postings scan), then
  an exact verify (`contains` / `LIKE` / `rlike`) on only the candidate
  rows makes the result exact — recall is guaranteed because a literal
  occurrence implies every required trigram is present. Patterns too short
  to yield a trigram cannot be index-pruned: they raise by default (at
  corpus scale an unpruned verify is an accidental full scan) and run as a
  loud (warnings.warn) full-scan verify only under allow_full_scan=True.
- similarity: |T(a) ∩ T(b)| / |T(a) ∪ T(b)| exactly as pg_trgm's
  `similarity()`. Indexed form joins the query's trigram literals against
  the pruned postings and the docstats table; the ad-hoc form is one pass
  of pure column algebra (array_intersect), no shuffle.
"""

from __future__ import annotations

from ..io_codec import INDEX_CODEC

import re
import warnings

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.xxhash import term_bucket

_RUN_RE = re.compile(r"[a-z0-9]+")

#: Required-trigram literal lists are capped: using a SUBSET of the required
#: trigrams is still sound (candidates only widen), and unbounded IN-lists
#: cost planning time (a multi-second cliff near 2k literals). Never
#: silent: we warn.
MAX_QUERY_TRIGRAMS = 64


# ------------------------------------------------------------- extraction

def trigrams_col(text_col: str) -> F.Column:
    """DISTINCT pg_trgm trigram array of a text column, as a pure JVM
    column expression (whole-stage codegen; no Python in the build path)."""
    words = (f"filter(split(regexp_replace(lower(coalesce({text_col}, '')),"
             f" '[^a-z0-9]+', ' '), ' '), w -> w <> '')")
    padded = f"transform({words}, w -> concat('  ', w, ' '))"
    return F.expr(
        f"array_distinct(flatten(transform({padded}, pw -> "
        f"transform(sequence(1, length(pw) - 2), i -> substring(pw, i, 3)))))")


def text_trigrams(text: str) -> set[str]:
    """Driver-side mirror of `trigrams_col` (full pad on both word edges):
    the trigram set of a standalone string, e.g. a similarity query."""
    out: set[str] = set()
    for run in _RUN_RE.findall((text or "").lower()):
        padded = f"  {run} "
        out.update(padded[i:i + 3] for i in range(len(padded) - 2))
    return out


def pattern_trigrams(pattern: str) -> list[str]:
    """Trigrams REQUIRED in any text containing `pattern` as a substring.

    For each lowercased [a-z0-9] run of the pattern: a run edge that abuts
    a non-alnum character INSIDE the pattern is a word boundary in any
    matching text too, so it earns pg_trgm padding ('  ' left / ' ' right);
    a run edge at the pattern's own boundary has unknown context and gets
    no pad. Every 3-window of the (partially padded) run is then required:
    if the pattern occurs, the containing word's padded form contains each
    of these windows, so each is in the document's trigram set. Sorted for
    determinism."""
    low = (pattern or "").lower()
    out: set[str] = set()
    for m in _RUN_RE.finditer(low):
        run = m.group(0)
        if m.start() > 0:
            run = "  " + run
        if m.end() < len(low):
            run = run + " "
        out.update(run[i:i + 3] for i in range(len(run) - 2))
    return sorted(out)


def like_pattern_trigrams(pattern: str) -> list[str]:
    """Required trigrams for a SQL LIKE pattern: each literal piece between
    `%` / `_` wildcards must occur as a substring, so the requirement is the
    union of the pieces' `pattern_trigrams`. Escape sequences are not
    supported (engines disagree on default LIKE escapes); a backslash is
    treated as an ordinary separator character."""
    out: set[str] = set()
    for piece in re.split(r"[%_]", pattern or ""):
        out.update(pattern_trigrams(piece))
    return sorted(out)


_REGEX_META = set(".[](){}|?*+^$\\")

#: Escapes that denote a single literal character: appended to the current
#: run as that character (a control char is a separator, so pattern_trigrams
#: then pads the abutting run edges — strictly tighter than breaking the run).
_ESC_LITERAL = {"n": "\n", "t": "\t", "r": "\r", "f": "\f",
                "v": "\v", "a": "\a", "e": "\x1b"}
#: Zero-operand class/anchor escapes: an opaque one-char (or zero-width) gap.
_ESC_ZEROWIDTH = set("wWdDsSbBAZzG")


def regex_required_trigrams(pattern: str) -> list[str]:
    """CONSERVATIVE required-trigram extraction from a regex: collect
    maximal literal-character runs, treating any metacharacter as an opaque
    gap; a `?`/`*`/`{` quantifier makes the PRECEDING literal optional, so
    it is dropped from its run. Top-level alternation `|` means no single
    literal is required — return [] (full-scan verify). This is the safe
    subset of pg_trgm's regex trigram-graph analysis: every returned
    trigram is genuinely required, and [] is always a sound answer.
    A quantified GROUP (`(...)?` / `(...)*` / `(...){`) would need group
    structure to reason about, so it also bails to [] — `(...)+` is fine
    (the body occurs at least once).

    Escape handling: `\\n`-style single-char escapes become that literal
    character; `\\w \\d \\s \\b`-style class/anchor escapes are opaque gaps;
    escaped ASCII punctuation (`\\.`) is that punctuation character. Any
    escape with an OPERAND (`\\x41`, `\\uFFFF`, `\\cX`, `\\p{L}`,
    `\\Q...\\E`, backreferences) bails to [] — parsing past it as literals
    would demand trigrams no matching document contains (false negatives),
    and these are rare enough in search patterns that a loud full-scan
    verify is the right degradation."""
    if "|" in pattern or "(?" in pattern or re.search(r"\)[?*{]", pattern):
        # `(?...)` intro chars are group SYNTAX, not literals: `(?:abc)x`
        # matches "zabcx", which has no word-initial "abc" trigram, and a
        # negative lookahead's body is required to be ABSENT — demanding
        # its trigrams would exclude every true match. Bail to full-scan.
        return []
    pieces: list[str] = []
    cur: list[str] = []
    i, n = 0, len(pattern)
    while i < n:
        ch = pattern[i]
        if ch == "\\":
            nxt = pattern[i + 1] if i + 1 < n else ""
            if nxt in _ESC_LITERAL:
                cur.append(_ESC_LITERAL[nxt])
            elif nxt in _ESC_ZEROWIDTH:
                pieces.append("".join(cur)); cur = []
            elif nxt and ord(nxt) < 128 and not nxt.isalnum():
                cur.append(nxt)        # escaped punctuation: literal char
            else:
                return []              # operand-consuming or unknown escape
            i += 2
            continue
        if ch in "?*{":
            if cur:
                cur.pop()          # preceding literal is optional
            pieces.append("".join(cur)); cur = []
            # skip a {m,n} body so its digits aren't read as literals
            if ch == "{":
                end = pattern.find("}", i)
                i = (end + 1) if end >= 0 else n
                continue
        elif ch in _REGEX_META:
            pieces.append("".join(cur)); cur = []
            if ch == "[":          # skip the whole character class
                end = i + 1
                if end < n and pattern[end] == "^":
                    end += 1
                if end < n and pattern[end] == "]":
                    end += 1
                while end < n and pattern[end] != "]":
                    end += 2 if pattern[end] == "\\" else 1
                i = end
        else:
            cur.append(ch)
        i += 1
    pieces.append("".join(cur))
    out: set[str] = set()
    for piece in pieces:
        out.update(pattern_trigrams(piece))
    return sorted(out)


# ------------------------------------------------------------------ build

def _write_trgm_meta(spark: SparkSession, out_dir: str, n_buckets: int,
                     max_gen: int) -> None:
    spark.createDataFrame([(n_buckets, max_gen)],
                          "n_buckets int, max_gen long") \
        .write.option("compression", INDEX_CODEC).mode("overwrite").parquet(f"{out_dir}/meta")


def build_trigram_index(docs: DataFrame, out_dir: str,
                        id_col: str = "doc_id", text_col: str = "text",
                        n_buckets: int = 64) -> None:
    """Two cheap codegen passes, nothing persisted: (1) explode the
    trigram array into DISTINCT (tg, doc_id) postings, range-partition on
    (bucket, tg, doc_id) — hot trigrams split across reducers at doc_id
    granularity, the main index build's skew treatment — and write
    bucket-partitioned, tg-sorted files; (2) docstats is just
    `size(trigrams_col)` per doc — a narrow shuffle-free projection, no
    re-aggregation of the exploded frame, so the postings never need to be
    cached (at 100 TB the exploded frame is corpus-sized × expansion).

    Every row carries a `gen` (ingest generation, 0 at build): deletes
    tombstone (doc_id, gen-at-delete) and apply to rows with gen <= that,
    so delete-then-`add_documents` of the same doc_id (the replace flow)
    resurrects the doc with only its NEW rows visible. `gen` is constant
    within every written file, so parquet RLE makes the column ~free."""
    spark = docs.sparkSession
    parts = max(spark.sparkContext.defaultParallelism, n_buckets)
    (docs.select(F.col(id_col).alias("doc_id"),
                 F.explode(trigrams_col(text_col)).alias("tg"))
         .withColumn("bucket",
                     F.pmod(F.xxhash64("tg"), F.lit(n_buckets)).cast("int"))
         .withColumn("gen", F.lit(0).cast("long"))
         .repartitionByRange(parts, "bucket", "tg", "doc_id")
         .sortWithinPartitions("bucket", "tg", "doc_id")
         .write.option("compression", INDEX_CODEC).mode("overwrite").partitionBy("bucket")
         .parquet(f"{out_dir}/postings"))
    (docs.select(F.col(id_col).alias("doc_id"),
                 F.size(trigrams_col(text_col)).alias("n_trigrams"),
                 F.lit(0).cast("long").alias("gen"))
         .where(F.col("n_trigrams") > 0)
         .write.option("compression", INDEX_CODEC).mode("overwrite").parquet(f"{out_dir}/docstats"))
    _write_trgm_meta(spark, out_dir, n_buckets, 0)


class TrigramIndex:
    """Loaded handle: meta read once; each query is bucket-pruned scans.

    Single-writer assumption (as the BM25 index): concurrent
    `add_documents`/`delete_documents` through separate handles can
    collide on generation numbers."""

    def __init__(self, spark: SparkSession, out_dir: str, n_buckets: int,
                 max_gen: int = 0):
        from ..plans.index_build import _path_exists

        self.spark = spark
        self.out_dir = out_dir
        self.n_buckets = n_buckets
        self.max_gen = max_gen
        self.postings = spark.read.parquet(f"{out_dir}/postings")
        self.docstats = spark.read.parquet(f"{out_dir}/docstats")
        # Only a MISSING tombstone table means "no deletes": any other read
        # failure (corrupt footer, permissions, transient FS error) must
        # propagate — mapping it to None would silently resurrect deleted
        # docs with results that look normal.
        if _path_exists(spark, f"{out_dir}/tombstones"):
            self.tombstones = spark.read.parquet(f"{out_dir}/tombstones")
        else:
            self.tombstones = None

    def _tomb_max(self) -> DataFrame:
        """(doc_id, _tgen): the newest tombstone generation per doc."""
        from .generations import tombstone_max
        return tombstone_max(self.tombstones, "doc_id")

    def _live(self, df: DataFrame) -> DataFrame:
        """Filter rows superseded by a tombstone (the shared generation
        contract — see operators/generations.py): rows re-added AFTER a
        delete survive (the replace flow). Broadcast: the tombstone set
        is small between compactions — `compact_trigram_index` folds it
        in."""
        from .generations import live_rows
        return live_rows(df, self.tombstones, "doc_id")

    def dead_doc_ids(self) -> DataFrame | None:
        """Tombstoned doc_ids with NO live docstats row (deleted and not
        re-added); None when there are no tombstones. Starts from the
        tombstone set — a doc whose text yields zero trigrams has no
        docstats row at all, and must still count as dead (edge of the
        edge: a doc RE-ADDED with zero-trigram text stays excluded from
        the full-scan fallback until compaction, since nothing records
        the re-add). Tombstone-set sized."""
        if self.tombstones is None:
            return None
        tmax = self._tomb_max()
        live_g = (self.docstats.join(F.broadcast(tmax), on="doc_id")
                  .groupBy("doc_id").agg(F.max("gen").alias("_g")))
        return (tmax.join(live_g, on="doc_id", how="left")
                .where(F.col("_g").isNull()
                       | (F.col("_g") <= F.col("_tgen")))
                .select("doc_id"))

    # ---- candidate generation (AND-intersection over required trigrams)

    def _pruned(self, trigrams: list[str]) -> DataFrame:
        """Postings rows for exactly these trigrams. Small sets push as
        literals (bucket-directory + row-group pruning); sets past the
        literal-IN planning cliff go through a broadcast semi-join —
        no pruning, but no multi-second plan either."""
        tgs = sorted(trigrams)
        df = self.postings
        if len(tgs) <= MAX_QUERY_TRIGRAMS:
            buckets = sorted({term_bucket(t, self.n_buckets) for t in tgs})
            return df.where(F.col("bucket").isin(buckets)
                            & F.col("tg").isin(tgs))
        qdf = self.spark.createDataFrame([(t,) for t in tgs], "tg string")
        return df.join(F.broadcast(qdf), on="tg", how="left_semi")

    def candidate_ids(self, required: list[str]) -> DataFrame | None:
        """doc_ids containing ALL `required` trigrams; None means "no
        pruning possible" (empty requirement). Live postings are distinct
        per (doc, trigram), so membership count >= len(required) is the
        AND (>= not ==: a doc added twice without an intervening delete —
        caller misuse — double-counts, and >= keeps it a candidate; the
        verify stays exact either way)."""
        if not required:
            return None
        if len(required) > MAX_QUERY_TRIGRAMS:
            warnings.warn(
                f"trigram requirement capped at {MAX_QUERY_TRIGRAMS} of "
                f"{len(required)} trigrams (candidates widen, result stays "
                "exact)", stacklevel=2)
            required = required[:MAX_QUERY_TRIGRAMS]
        return (self._live(self._pruned(required))
                .groupBy("doc_id").agg(F.count("*").alias("_n"))
                .where(F.col("_n") >= len(required))
                .select("doc_id"))


def load_trigram_index(spark: SparkSession, out_dir: str) -> TrigramIndex:
    meta = spark.read.parquet(f"{out_dir}/meta").first()
    max_gen = int(meta["max_gen"]) if "max_gen" in meta else 0
    return TrigramIndex(spark, out_dir, int(meta["n_buckets"]), max_gen)


# ----------------------------------------------------------------- search

#: Candidate sets at or below this size are collected and pushed into the
#: verify scan as doc_id literals: a broadcast semi-join CANNOT prune
#: parquet row groups, so the verify would read the whole text column even
#: for 10 candidates (measured: 96-candidate verify cost the same ~6 s as
#: a full scan on a 1.7 GB corpus). An IN-list of longs row-group-prunes;
#: 512 literals stays far under the multi-second planning cliff measured
#: at ~2k literals.
VERIFY_INLIST_LIMIT = 512


def _verified(index: TrigramIndex, docs: DataFrame, required: list[str],
              verify: F.Column, id_col: str, kind: str,
              allow_full_scan: bool = False) -> DataFrame:
    cands = index.candidate_ids(required)
    if cands is None:
        if not allow_full_scan:
            raise ValueError(
                f"{kind} pattern yields no required trigram, so the index "
                "cannot prune and answering it means verifying every "
                "document in the corpus — at 100 TB that is an accidental "
                "full scan. Pass allow_full_scan=True to run it anyway "
                "(the verify stays exact).")
        warnings.warn(f"{kind} pattern yields no required trigram — "
                      "falling back to a full-scan verify", stacklevel=3)
        dead = index.dead_doc_ids()
        if dead is not None:
            docs = docs.join(
                F.broadcast(dead.withColumnRenamed("doc_id", id_col)),
                on=id_col, how="left_anti")
        return docs.where(verify)
    ids = [r["doc_id"]
           for r in cands.limit(VERIFY_INLIST_LIMIT + 1).collect()]
    if not ids:
        return docs.where(F.lit(False)).where(verify)
    if len(ids) <= VERIFY_INLIST_LIMIT:
        # selective candidates: literal pushdown -> the verify reads only
        # the row groups whose doc_id stats overlap the candidate ids
        return docs.where(F.col(id_col).isin(ids)).where(verify)
    return (docs.join(cands.withColumnRenamed("doc_id", id_col),
                      on=id_col, how="left_semi")
            .where(verify))


def substring_search(index: TrigramIndex, docs: DataFrame, pattern: str,
                     id_col: str = "doc_id", text_col: str = "text",
                     case_sensitive: bool = False,
                     allow_full_scan: bool = False) -> DataFrame:
    """Rows of `docs` whose text contains `pattern` — exact (index prunes,
    `contains` verifies). Case-insensitive by default, like pg_trgm ILIKE
    acceleration; the trigram prefilter is case-insensitive either way.
    A pattern too short to yield a trigram cannot be index-pruned: it
    raises unless allow_full_scan=True opts into the corpus-wide verify."""
    hay = F.col(text_col) if case_sensitive else F.lower(F.col(text_col))
    needle = pattern if case_sensitive else pattern.lower()
    return _verified(index, docs, pattern_trigrams(pattern),
                     F.contains(hay, F.lit(needle)), id_col, "substring",
                     allow_full_scan)


def like_search(index: TrigramIndex, docs: DataFrame, pattern: str,
                id_col: str = "doc_id", text_col: str = "text",
                allow_full_scan: bool = False) -> DataFrame:
    """Rows matching a SQL LIKE pattern (case-sensitive, no escapes).
    Raises on an unprunable pattern unless allow_full_scan=True."""
    return _verified(index, docs, like_pattern_trigrams(pattern),
                     F.col(text_col).like(pattern), id_col, "LIKE",
                     allow_full_scan)


def regex_search(index: TrigramIndex, docs: DataFrame, pattern: str,
                 id_col: str = "doc_id", text_col: str = "text",
                 allow_full_scan: bool = False) -> DataFrame:
    """Rows whose text matches `pattern` (unanchored, Java regex). The
    trigram prefilter uses only literals PROVABLY required by the regex;
    alternation or an all-optional pattern cannot be index-pruned and
    raises unless allow_full_scan=True opts into the corpus-wide verify."""
    return _verified(index, docs, regex_required_trigrams(pattern),
                     F.col(text_col).rlike(pattern), id_col, "regex",
                     allow_full_scan)


# ------------------------------------------------------------- similarity

def similarity_scores(index: TrigramIndex, query: str,
                      threshold: float = 0.0) -> DataFrame:
    """(doc_id, similarity) for every doc with similarity >= threshold,
    where similarity is pg_trgm's |T(doc) ∩ T(query)| / |T(doc) ∪ T(query)|.
    Docs sharing no trigram have similarity 0 and only appear when
    threshold == 0. Both set sizes are integers computed identically on
    both engines, so the one double division is bit-stable cross-engine."""
    qtg = sorted(text_trigrams(query))
    n_q = len(qtg)
    if n_q == 0:
        return index._live(index.docstats).select(
            "doc_id", F.lit(0.0).alias("similarity")).where(
            F.lit(threshold) <= 0.0)
    # _live BEFORE the count: superseded rows of a replaced doc must not
    # inflate its intersection (similarity has no exact verify step)
    inter = (index._live(index._pruned(qtg))
             .groupBy("doc_id").agg(F.count("*").alias("_inter")))
    sim = (index._live(index.docstats).join(inter, on="doc_id", how="left")
           .select("doc_id",
                   (F.coalesce("_inter", F.lit(0)).cast("double")
                    / (F.col("n_trigrams") + F.lit(n_q)
                       - F.coalesce("_inter", F.lit(0))))
                   .alias("similarity")))
    return sim.where(F.col("similarity") >= threshold)


def similarity_topk(index: TrigramIndex, query: str, k: int = 10,
                    threshold: float = 0.0) -> DataFrame:
    """Top-k most-similar docs; deterministic ties by doc_id."""
    return (similarity_scores(index, query, threshold)
            .orderBy(F.desc("similarity"), F.asc("doc_id")).limit(k))


def similarity_col(text_col: str, query: str) -> F.Column:
    """Ad-hoc (index-free) pg_trgm similarity of a text column against a
    literal query: one pass of column algebra, no shuffle."""
    qtg = sorted(text_trigrams(query))
    if not qtg:
        return F.lit(0.0)
    q = F.array(*[F.lit(t) for t in qtg])
    d = trigrams_col(text_col)
    inter = F.size(F.array_intersect(d, q)).cast("double")
    return inter / (F.size(d) + F.lit(len(qtg)) - inter)


def similarity_join(
    left: DataFrame,
    right: DataFrame | None = None,
    threshold: float = 0.3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """All pairs with pg_trgm trigram-Jaccard ≥ threshold — the fuzzy
    record-linkage join (pg's `a.name % b.name`). `right=None` is a
    self-join (a < b); otherwise left×right with (a, b) = (left id,
    right id). Returns (a, b, similarity), exact Jaccard over the
    DISTINCT padded-trigram sets (`trigrams_col`).

    Never a cross join: candidates come from a PREFIX-FILTERED equi-join
    on shared trigrams (the SSJoin prefix-filter principle — Chaudhuri,
    Ganti & Kaushik, ICDE'06). The LEFT side keeps only its
    |tg| - ⌈t·|tg|⌉ + 1 RAREST trigrams (one global frequency order:
    df asc, trigram asc) as join keys; Jaccard ≥ t forces overlap
    ≥ ⌈t·|tg_left|⌉, which cannot fit in the left suffix alone, so at
    least one shared trigram lies in the left PREFIX and the asymmetric
    prefix ⋈ full join is lossless (NOT prefix ⋈ prefix, whose missed
    elements can split across the two suffixes; completeness is pinned
    by a brute-force pytest). For the self-join both orientations are
    generated before canonicalizing (a, b) = (min, max), so either
    record's prefix can witness the pair. The globally hottest trigrams
    (' a ', 'th '…) enter a left prefix only for records made entirely
    of hot trigrams — the quadratic fan-out keys are gone at corpus
    scale. Candidates are verified with one exact `array_intersect`
    against the full sets; similarity is a single integer division
    (identical doubles on any engine).

    Plan shape at 100×: two explodes + one vocabulary-sized frequency
    aggregation + a per-record window (records are short), one
    prefix⋈full equi-join, one verify join. No driver-side state."""
    from pyspark.sql import Window

    if not 0 < threshold <= 1:
        raise ValueError("threshold must be in (0, 1]")
    self_join = right is None

    def prep(df, a_name):
        return (df.select(F.col(id_col).alias(a_name),
                          trigrams_col(text_col).alias(f"tg_{a_name}"))
                .withColumn(f"n_{a_name}", F.size(f"tg_{a_name}"))
                .where(F.col(f"n_{a_name}") > 0))

    L = prep(left, "a")
    R = (L.select(F.col("a").alias("b"), F.col("tg_a").alias("tg_b"),
                  F.col("n_a").alias("n_b"))
         if self_join else prep(right, "b"))

    ex_l = L.select("a", "n_a", F.explode("tg_a").alias("tg"))
    ex_r = R.select("b", F.explode("tg_b").alias("tg"))
    freq_src = (ex_l.select("tg") if self_join
                else ex_l.select("tg").unionByName(ex_r.select("tg")))
    freq = freq_src.groupBy("tg").agg(F.count("*").alias("_df"))

    win = Window.partitionBy("a").orderBy(F.asc("_df"), F.asc("tg"))
    plen = (F.col("n_a")
            - F.ceil(F.lit(float(threshold)) * F.col("n_a")) + 1)
    # the trigram vocabulary is bounded (≤ 37³ padded alnum trigrams),
    # so the frequency table ALWAYS broadcasts — the exploded stream is
    # never shuffled for the frequency lookup
    pref_l = (ex_l.join(F.broadcast(freq), on="tg")
              .withColumn("_r", F.row_number().over(win))
              .where(F.col("_r") <= plen)
              .select("a", "tg"))

    raw = pref_l.join(ex_r, on="tg")
    if self_join:
        cand = (raw.where(F.col("a") != F.col("b"))
                .select(F.least("a", "b").alias("a"),
                        F.greatest("a", "b").alias("b"))
                .distinct())
    else:
        cand = raw.select("a", "b").distinct()

    inter = F.size(F.array_intersect("tg_a", "tg_b")).cast("double")
    return (cand.join(L, on="a").join(R, on="b")
            .withColumn("similarity",
                        inter / (F.col("n_a") + F.col("n_b") - inter))
            .where(F.col("similarity") >= threshold)
            .select("a", "b", "similarity"))


def suggest_terms(terms_df: DataFrame, word: str, k: int = 5,
                  threshold: float = 0.3,
                  term_col: str = "term") -> DataFrame:
    """"Did you mean": the k dictionary terms most trigram-similar to
    `word` (pg_trgm's classic spell-suggestion over an index vocabulary).
    The dictionary is vocabulary-sized — orders of magnitude smaller than
    the corpus — so this is one ad-hoc column-algebra pass over it, no
    trigram index needed; pair with `load_index(...).terms` to correct
    user queries before retrieval. Ties: similarity desc, term asc."""
    return (terms_df
            .select(F.col(term_col).alias("term"),
                    similarity_col(term_col, word).alias("similarity"))
            .where(F.col("similarity") >= threshold)
            .orderBy(F.desc("similarity"), F.asc("term"))
            .limit(k))


def suggest_terms_multi(terms_df: DataFrame, words: list[str],
                        threshold: float = 0.3,
                        term_col: str = "term") -> DataFrame:
    """Top-1 "did you mean" for MANY words in ONE dictionary pass — a
    multi-word query with several typos must not scan the vocabulary
    once per word. Every word's similarity is a column over the same
    scan; an explode + per-word window picks each argmax with the same
    (similarity desc, term asc) tie-break as `suggest_terms`.

    Returns (word, term, similarity): at most one row per input word;
    words with no candidate ≥ threshold are absent."""
    from pyspark.sql import Window

    words = list(dict.fromkeys(words))
    spark = terms_df.sparkSession
    if not words:
        return spark.createDataFrame(
            [], "word string, term string, similarity double")
    sims = terms_df.select(
        F.col(term_col).alias("term"),
        *[similarity_col(term_col, w).alias(f"_s{i}")
          for i, w in enumerate(words)])
    pairs = F.array(*[
        F.struct(F.lit(w).alias("word"), F.col(f"_s{i}").alias("similarity"))
        for i, w in enumerate(words)])
    exploded = (sims.select("term", F.explode(pairs).alias("p"))
                .select("term", "p.word", "p.similarity")
                .where(F.col("similarity") >= threshold))
    w = Window.partitionBy("word").orderBy(F.desc("similarity"),
                                           F.asc("term"))
    return (exploded.withColumn("_rn", F.row_number().over(w))
            .where(F.col("_rn") == 1).drop("_rn"))


def add_documents(index: TrigramIndex, docs: DataFrame,
                  id_col: str = "doc_id", text_col: str = "text") -> None:
    """Incremental ingest: trigram postings are per-document independent
    (no cross-document blocks to invalidate, unlike the BM25 packed
    store), so adding documents is two APPEND writes in the existing
    layout — O(new docs), never O(corpus). Rows are stamped with the next
    generation, so re-adding a doc_id AFTER `delete_documents` (the
    replace flow) is fully supported: queries see only the new rows.
    Caller contract: a LIVE doc_id must be deleted before re-adding —
    adding it twice leaves both generations visible (substring/LIKE/regex
    stay exact via the verify; similarity would double-count).
    Reload with `load_trigram_index` to see the appended rows."""
    spark = docs.sparkSession
    parts = max(spark.sparkContext.defaultParallelism // 2, 1)
    new_gen = index.max_gen + 1
    (docs.select(F.col(id_col).alias("doc_id"),
                 F.explode(trigrams_col(text_col)).alias("tg"))
         .withColumn("bucket",
                     F.pmod(F.xxhash64("tg"),
                            F.lit(index.n_buckets)).cast("int"))
         .withColumn("gen", F.lit(new_gen).cast("long"))
         .repartitionByRange(parts, "bucket", "tg", "doc_id")
         .sortWithinPartitions("bucket", "tg", "doc_id")
         .write.option("compression", INDEX_CODEC).mode("append").partitionBy("bucket")
         .parquet(f"{index.out_dir}/postings"))
    (docs.select(F.col(id_col).alias("doc_id"),
                 F.size(trigrams_col(text_col)).alias("n_trigrams"),
                 F.lit(new_gen).cast("long").alias("gen"))
         .where(F.col("n_trigrams") > 0)
         .write.option("compression", INDEX_CODEC).mode("append").parquet(f"{index.out_dir}/docstats"))
    _write_trgm_meta(spark, index.out_dir, index.n_buckets, new_gen)
    index.max_gen = new_gen


def delete_documents(index: TrigramIndex, doc_ids) -> None:
    """Mark documents deleted: an O(deletes) tombstone append stamped with
    the current max generation — it kills every row at or below it, and a
    later `add_documents` of the same doc_id (higher gen) resurrects the
    doc with only its new content. Queries anti-join the (small,
    broadcast) tombstone set until `compact_trigram_index` folds it in."""
    index.spark.createDataFrame(
        [(int(d), index.max_gen) for d in doc_ids],
        "doc_id long, gen long") \
        .write.option("compression", INDEX_CODEC).mode("append").parquet(f"{index.out_dir}/tombstones")


def compact_trigram_index(spark: SparkSession, out_dir: str) -> None:
    """Fold tombstones into the index: rewrite postings and docstats
    minus superseded rows, then drop the tombstone table LAST. A doc's
    trigrams scatter across ALL buckets, so the rewrite is inherently
    full-index (unlike the BM25 index's per-bucket repack) — run it when
    the tombstone set has grown enough to hurt the per-query anti-join.
    Uses Hadoop FileSystem ops (not local shutil) so non-local out_dirs
    (hdfs://, s3a://) compact too; the swap deletes a live table only
    after its replacement is fully written, and a failed rename raises
    with the data preserved in the _tmp path. Generations are PRESERVED:
    every surviving row has gen > its doc's newest tombstone, so a crash
    anywhere in the sequence leaves a consistent index (resetting gens
    would let leftover tombstones kill re-added rows)."""
    from ..streaming.incremental import _delete_path, _rename_path

    idx = load_trigram_index(spark, out_dir)
    if idx.tombstones is None:
        return
    parts = max(spark.sparkContext.defaultParallelism, idx.n_buckets)
    (idx._live(idx.postings)
        .repartitionByRange(parts, "bucket", "tg", "doc_id")
        .sortWithinPartitions("bucket", "tg", "doc_id")
        .write.option("compression", INDEX_CODEC).mode("overwrite").partitionBy("bucket")
        .parquet(f"{out_dir}/postings_tmp"))
    (idx._live(idx.docstats)
        .write.option("compression", INDEX_CODEC).mode("overwrite").parquet(f"{out_dir}/docstats_tmp"))
    for tbl in ("postings", "docstats"):
        _delete_path(spark, f"{out_dir}/{tbl}")
        _rename_path(spark, f"{out_dir}/{tbl}_tmp", f"{out_dir}/{tbl}")
    _delete_path(spark, f"{out_dir}/tombstones")
