"""Seeded generator of source-code corpora and recrawl batches.

Everything here is a pure function of the seed: the engine only ever sees
the rows this module produces. A corpus row is
``(doc_id, repo, path, commit, lang, content)``.

What the generator varies, and why:

- Identifiers are camelCase compounds of 2-3 parts drawn from a Zipf
  law over a seeded ranking; ``ident_vocab`` caps the number of distinct
  identifiers (both workloads stay below the engine's 131,072-entry
  ``lexize_chunk`` LRU).
- Every file mixes language keywords, code lines and English comments
  (stopwords and inflected words, so stemming and stopword removal work).
- File lengths are log-normal, rescaled so a corpus always carries the
  same token budget, plus a fixed number of long files (>= 20k tokens),
  optionally one in every ``long_every`` ids.
- Files are spread over repositories by a Zipf law (repo skew).
- Multi-word phrases are planted in comments at three selectivities.
- Recrawl batches hold a known split of unchanged, changed and new files.
"""

from __future__ import annotations

import hashlib
import random
from dataclasses import dataclass, field

import numpy as np

LANGS = {
    # lang: (weight, extension, comment marker, keywords)
    "py": (0.30, "py", "#", ["def", "return", "class", "import", "from",
                             "self", "None", "True", "False", "lambda",
                             "yield", "with", "elif", "raise", "pass"]),
    "java": (0.20, "java", "//", ["public", "private", "static", "void",
                                  "class", "new", "return", "final", "int",
                                  "String", "this", "throws", "extends"]),
    "js": (0.15, "js", "//", ["function", "const", "let", "var", "return",
                              "this", "new", "async", "await", "export",
                              "undefined", "null", "typeof"]),
    "go": (0.15, "go", "//", ["func", "package", "return", "struct", "type",
                              "interface", "defer", "go", "chan", "nil",
                              "err", "range", "var"]),
    "rs": (0.10, "rs", "//", ["fn", "let", "mut", "pub", "impl", "struct",
                              "enum", "match", "Some", "None", "Ok", "Err",
                              "self", "use", "crate"]),
    "c": (0.10, "c", "//", ["int", "char", "void", "struct", "return",
                            "static", "const", "unsigned", "sizeof",
                            "NULL", "typedef", "include"]),
}

# English comment vocabulary: stopwords plus inflected forms that the
# Snowball stemmer folds together (running/runs/run, caches/cached, ...).
ENGLISH = """the a an of to in for on with by from at as is are was were be
been being this that these those it its we you they he she not no but or and
if then when while because so than too very can will would should could may
might must do does did done has have had having
run runs running ran returns returned returning value values valued
configure configured configuration configurations connect connected
connection connections handle handles handled handling parse parses parsed
parsing request requests requested update updates updated updating
create creates created creating delete deletes deleted deleting read reads
reading write writes written writing error errors check checks checked
checking cache caches cached caching build builds building built index
indexes indexed indexing search searches searched searching load loads
loaded loading store stores stored storing retry retries retried
compute computes computed computing process processes processed processing
queue queues queued server servers client clients user users file files
buffer buffers stream streams thread threads lock locks locked locking
memory allocate allocated allocation message messages send sends sent
receive received timeout timeouts fix fixes fixed todo note hack workaround
temporary faster slower simple simpler better worse correct correctly
assume assumes assumed ensure ensures ensured avoid avoids avoided
""".split()

# identifier parts; compounds of these form the identifier vocabulary
PARTS = """get set make new old init load save read write open close parse
format encode decode user account session token key value item entry node
tree list map set queue stack heap graph edge vertex path file dir buffer
stream reader writer client server request response handler manager
service factory builder config option setting param arg result error
status state event listener callback hook plugin module package cache
store index table row column field record schema query filter sort merge
split join group count size length offset limit page cursor batch chunk
block frame packet message header body payload content text string char
byte bit flag mask id name type kind mode level depth width height time
date clock timer delay retry lock mutex thread task job worker pool
channel signal socket port host address route url link ref ptr handle
context scope env var const local global remote cluster shard replica
leader follower peer vote term log commit snapshot checkpoint""".split()

# words used only in planted phrases, so their adjacency is controlled
PHRASE_WORDS = """lease renewal fence epoch quorum tombstone vacuum compaction
backpressure watermark sharding rebalance throttle jitter backoff circuit
breaker bulkhead idempotent saga outbox inbox ledger journal manifest
lineage provenance bloom sketch reservoir sampler gossip heartbeat
failover fallback rollout canary sidecar mesh ingress egress tenant
sandbox enclave attestation""".split()

PHRASE_SELECTIVITY = {"high": 0.12, "medium": 0.03, "low": 0.004}


@dataclass
class Profile:
    """Size and shape of one generated corpus."""
    n_files: int
    tokens: int              # total token budget across the corpus
    ident_vocab: int | None  # cap on distinct identifiers (None = no cap)
    zipf_a: float = 1.15
    long_files: int = 1      # files of >= 20k tokens, inside the budget
    long_every: int = 0      # >0: one long file in every run of this many ids
    n_repos: int = 40


@dataclass
class Corpus:
    rows: list               # (doc_id, repo, path, commit, lang, content)
    phrases: dict            # selectivity -> list of phrase word tuples
    seed: int
    next_id: int = field(default=0)


def _ident(rank: int, perm: list) -> str:
    """Deterministic camelCase identifier for a Zipf rank (mixed radix)."""
    n = len(perm)
    a, r = perm[rank % n], rank // n
    b, r = perm[r % n], r // n
    if r == 0:
        return a + b.capitalize()
    c = perm[(r - 1) % n]
    return a + b.capitalize() + c.capitalize()


class _Words:
    """Seeded word sources shared by every file of one corpus."""

    def __init__(self, rng: random.Random, nrng: np.random.Generator,
                 profile: Profile):
        self.rng, self.nrng, self.profile = rng, nrng, profile
        self.perm = PARTS[:]
        rng.shuffle(self.perm)
        self._pool: list = []

    def idents(self, n: int) -> list:
        ranks = self.nrng.zipf(self.profile.zipf_a, size=n) - 1
        cap = self.profile.ident_vocab
        if cap is not None:
            ranks = ranks % cap
        return [_ident(int(r), self.perm) for r in ranks]

    def ident(self) -> str:
        if not self._pool:
            self._pool = self.idents(4096)
        return self._pool.pop()


def _code_line(w: _Words, lang: str) -> list:
    rng = w.rng
    kw = LANGS[lang][3]
    shape = rng.random()
    if shape < 0.35:
        return [rng.choice(kw), f"{w.ident()}({w.ident()},", f"{w.ident()})"]
    if shape < 0.65:
        return [f"{w.ident()}.{w.ident()}", "=", f"{w.ident()}({w.ident()})"]
    if shape < 0.85:
        return [rng.choice(kw), w.ident(), rng.choice(kw), f"{w.ident()};"]
    return [rng.choice(kw), f"{w.ident()}_{rng.choice(PARTS)}",
            str(rng.randrange(1000))]


def _comment_line(w: _Words, lang: str, n_words: int) -> list:
    rng = w.rng
    return [LANGS[lang][2]] + [rng.choice(ENGLISH) for _ in range(n_words)]


def _file_tokens(w: _Words, lang: str, n_tokens: int,
                 planted: list) -> str:
    """Content of about ``n_tokens`` whitespace tokens, as lines."""
    rng = w.rng
    lines, count = [], 0
    slots = sorted(rng.randrange(max(n_tokens, 1)) for _ in planted)
    plant = list(zip(slots, planted))
    while count < n_tokens:
        if plant and count >= plant[0][0]:
            words = plant.pop(0)[1]
            line = ([LANGS[lang][2]] + [rng.choice(ENGLISH)]
                    + list(words) + [rng.choice(ENGLISH)])
        elif rng.random() < 0.3:
            line = _comment_line(w, lang, rng.randrange(4, 12))
        else:
            line = _code_line(w, lang)
        indent = "    " * rng.randrange(3)
        lines.append(indent + " ".join(line))
        count += len(line)
    for _, words in plant:  # slots past the end still get planted
        lines.append(" ".join([LANGS[lang][2]] + list(words)))
    return "\n".join(lines) + "\n"


def _lengths(nrng: np.random.Generator, profile: Profile) -> list:
    """Log-normal file lengths summing to the token budget, with
    ``long_files`` entries of at least 20k tokens."""
    n_short = profile.n_files - profile.long_files
    long_len = [20_000 + int(nrng.integers(0, 4_000))
                for _ in range(profile.long_files)]
    budget = max(profile.tokens - sum(long_len), n_short * 8)
    raw = nrng.lognormal(mean=0.0, sigma=1.0, size=n_short)
    raw = np.minimum(raw, 30.0)  # the planted long files form the tail
    scaled = np.maximum((raw / raw.sum() * budget).astype(int), 8)
    return [int(x) for x in scaled] + long_len


def _order(rng: random.Random, profile: Profile) -> list:
    """Permutation from doc_id to an index into ``_lengths`` (whose last
    ``long_files`` entries are the long files): seeded positions, or with
    ``long_every`` one long file at a seeded offset in each run of ids."""
    short = list(range(profile.n_files - profile.long_files))
    rng.shuffle(short)
    longs = list(range(len(short), profile.n_files))
    if not profile.long_every:
        order = short + longs
        rng.shuffle(order)
        return order
    slots = {k * profile.long_every + rng.randrange(profile.long_every): li
             for k, li in enumerate(longs)}
    it = iter(short)
    return [slots[i] if i in slots else next(it)
            for i in range(profile.n_files)]


def _phrases(rng: random.Random) -> dict:
    words = PHRASE_WORDS[:]
    rng.shuffle(words)
    out, i = {}, 0
    for level in PHRASE_SELECTIVITY:
        # one 2-word and one 3-word phrase per selectivity level
        out[level] = [tuple(words[i:i + 2]), tuple(words[i + 2:i + 5])]
        i += 5
    return out


def _commit(rng: random.Random) -> str:
    return "%040x" % rng.getrandbits(160)


def make_corpus(seed: int, profile: Profile) -> Corpus:
    rng = random.Random(seed)
    nrng = np.random.default_rng(seed)
    w = _Words(rng, nrng, profile)
    phrases = _phrases(rng)
    repo_w = 1.0 / np.arange(1, profile.n_repos + 1) ** 1.1
    repos = [f"org{r % 7}/{rng.choice(PARTS)}-{r}"
             for r in range(profile.n_repos)]
    lang_names = list(LANGS)
    lang_w = [LANGS[k][0] for k in lang_names]
    lengths = _lengths(nrng, profile)
    order = _order(rng, profile)
    repo_p = repo_w / repo_w.sum()
    rows = []
    for doc_id, li in enumerate(order):
        lang = rng.choices(lang_names, lang_w)[0]
        repo = repos[int(nrng.choice(profile.n_repos, p=repo_p))]
        planted = [ph for level, sel in PHRASE_SELECTIVITY.items()
                   for ph in phrases[level] if rng.random() < sel]
        content = _file_tokens(w, lang, lengths[li], planted)
        path = f"{repo}/src/{rng.choice(PARTS)}/{w.ident()}.{LANGS[lang][1]}"
        rows.append((doc_id, repo, path, _commit(rng), lang, content))
    return Corpus(rows=rows, phrases=phrases, seed=seed, next_id=len(rows))


def recrawl_batch(corpus: Corpus, live: dict, rng: random.Random,
                  n_unchanged: int, n_changed: int, n_new: int):
    """One seeded "commit": rows to upsert, the split the engine must
    report, and the ids whose content changes (changed + new). ``live``
    maps doc_id -> current row and is updated in place."""
    w = _Words(rng, np.random.default_rng(rng.getrandbits(32)),
               Profile(n_files=1, tokens=1, ident_vocab=None))
    ids = sorted(live)
    picked = rng.sample(ids, n_unchanged + n_changed)
    batch = [live[i] for i in picked[:n_unchanged]]
    ingested = set(picked[n_unchanged:])
    for i in picked[n_unchanged:]:
        doc_id, repo, path, _, lang, content = live[i]
        extra = _file_tokens(w, lang, rng.randrange(10, 60), [])
        row = (doc_id, repo, path, _commit(rng), lang, content + extra)
        live[i] = row
        batch.append(row)
    for _ in range(n_new):
        doc_id = corpus.next_id
        corpus.next_id += 1
        lang = rng.choice(list(LANGS))
        content = _file_tokens(w, lang, rng.randrange(40, 400), [])
        row = (doc_id, f"org0/{rng.choice(PARTS)}-new",
               f"new/{w.ident()}.{LANGS[lang][1]}", _commit(rng), lang,
               content)
        live[doc_id] = row
        ingested.add(doc_id)
        batch.append(row)
    rng.shuffle(batch)
    return batch, {"unchanged": n_unchanged, "changed": n_changed,
                   "new": n_new}, ingested


def sha256_hex(text: str) -> str:
    return hashlib.sha256(text.encode("utf-8")).hexdigest()
