"""Seeded input generators with planted truth.

Every generator takes the workload seed. The same seed gives the same
inputs and the same planted counts; another seed gives the same sizes
and the same drift and duplicate shares. The library under test only
ever sees the generated frames, never the truth objects.

Compare inputs are built in Spark from ``spark.range`` (pure functions
of ``id`` and the seed, so both sides of a compare can be regenerated
independently). The document corpus is built in Python, because its
truth (quality classes, copy families, shingle Jaccard) has to be known
exactly.
"""

from __future__ import annotations

import hashlib
import math
from dataclasses import dataclass, field

import numpy as np

# ---------------------------------------------------------------------------
# keyed compare tables
# ---------------------------------------------------------------------------

#: rows per side of the compare workloads
COMPARE_ROWS = 40_000
#: logical chunk width of the chained-MD5 report (4 chunks, one per
#: core); the reference's calibrated bucket on its own example was
#: 20,758 rows
BUCKET_ROWS = 10_000
#: planted drift shares of the ``compare_drift`` target
CHANGED_SHARE = 0.005
REMOVED_SHARE = 0.0001
ADDED_SHARE = 0.001
#: payload columns in schema order (``id`` is the key)
PAYLOAD = ("qty", "score", "amount", "label", "ts", "note", "flag")
#: multiplier of the drift permutation p(id) = (id * A + B) mod n; a
#: prime that divides no power of 2 or 5, so it is coprime with n
_PERM_A = 1_000_003


@dataclass(frozen=True)
class DriftTruth:
    """What the drift target differs by, by construction."""

    rows: int
    changed: int
    removed: int
    added: int
    column: str

    @property
    def tgt_rows(self) -> int:
        return self.rows - self.removed + self.added

    @property
    def diff_count(self) -> int:
        # a changed row is one surplus row on each side
        return 2 * self.changed + self.removed + self.added


def drift_truth(seed: int, rows: int = COMPARE_ROWS) -> DriftTruth:
    return DriftTruth(
        rows=rows,
        changed=round(rows * CHANGED_SHARE),
        removed=round(rows * REMOVED_SHARE),
        added=round(rows * ADDED_SHARE),
        column=PAYLOAD[seed % len(PAYLOAD)],
    )


def _columns(seed: int):
    """The 8 generated columns as expressions over ``id``: bigint key,
    int, double, decimal(12,2), string, timestamp, nullable string,
    boolean."""
    from pyspark.sql import functions as F

    idc = F.col("id")

    def h(salt: int):
        return F.xxhash64(idc, F.lit(seed), F.lit(salt))

    return [
        idc.alias("id"),
        F.pmod(h(1), F.lit(1_000_000)).cast("int").alias("qty"),
        (F.pmod(h(2), F.lit(10**9)) / F.lit(1000.0)).alias("score"),
        (F.pmod(h(3), F.lit(10**8)) / F.lit(100)).cast("decimal(12,2)").alias("amount"),
        F.concat(F.lit("item-"), F.hex(F.pmod(h(4), F.lit(2**40)))).alias("label"),
        F.timestamp_seconds(F.lit(1_600_000_000) + F.pmod(h(5), F.lit(10**8))).alias("ts"),
        F.when(F.pmod(h(6), F.lit(10)) == 0, F.lit(None).cast("string"))
        .otherwise(F.concat(F.lit("note-"), F.pmod(h(7), F.lit(99_999)).cast("string")))
        .alias("note"),
        (F.pmod(h(8), F.lit(2)) == 1).alias("flag"),
    ]


def _permuted_id(rows: int, seed: int, start: int = 0):
    """id = start + p(i) over ``spark.range(rows)``, with the permutation
    p(i) = (i * A + B) mod rows: every id once, in a seed-dependent order
    that costs no sort."""
    from pyspark.sql import functions as F

    p = F.pmod(F.col("id") * F.lit(_PERM_A) + F.lit(seed * 7919 + 13), F.lit(rows))
    return (F.lit(start) + p).alias("id")


def keyed_table(spark, seed: int, rows: int = COMPARE_ROWS, start: int = 0, shuffled=False):
    """Ids ``start .. start+rows-1`` with their generated columns: in id
    order, or with ``shuffled`` in a seed-dependent order (a separately
    written replica whose files hold the rows in another order)."""
    base = spark.range(0, rows, numPartitions=4)
    if shuffled:
        base = base.select(_permuted_id(rows, seed + 1, start))
    elif start:
        base = base.select((base["id"] + start).alias("id"))
    return base.select(*_columns(seed))


def _drifted(column: str):
    """An expression that always changes ``column``'s value and keeps
    its type."""
    from pyspark.sql import functions as F

    c = F.col(column)
    return {
        "qty": (c + 1).cast("int"),
        "score": c + F.lit(1.0),
        "amount": (c + F.lit(1)).cast("decimal(12,2)"),
        "label": F.concat(c, F.lit("~")),
        "ts": c + F.expr("INTERVAL 1 SECOND"),
        "note": F.when(c.isNull(), F.lit("drift")).otherwise(F.lit(None).cast("string")),
        "flag": ~c,
    }[column]


def drift_target(spark, seed: int, rows: int = COMPARE_ROWS):
    """The target of ``compare_drift`` and its truth. Rows are picked by
    the permutation p(id) = (id * A + B) mod rows, so the planted counts
    are exact: p < changed marks a changed row, the next ``removed``
    values of p mark removed rows, and ``added`` new ids follow the
    source's last id. Keys stay unique; rows are in shuffled order."""
    from pyspark.sql import functions as F

    truth = drift_truth(seed, rows)
    p = F.pmod(F.col("id") * F.lit(_PERM_A) + F.lit(seed * 7919 + 13), F.lit(rows))
    kept = keyed_table(spark, seed, rows, shuffled=True).withColumn("__p", p)
    kept = kept.filter(
        (F.col("__p") < truth.changed) | (F.col("__p") >= truth.changed + truth.removed)
    )
    kept = kept.withColumn(
        truth.column,
        F.when(F.col("__p") < truth.changed, _drifted(truth.column)).otherwise(
            F.col(truth.column)
        ),
    ).drop("__p")
    added = keyed_table(spark, seed, truth.added, start=rows, shuffled=True)
    return kept.unionByName(added), truth


# ---------------------------------------------------------------------------
# document corpus
# ---------------------------------------------------------------------------

CORPUS_DOCS = 10_000
VOCAB_SIZE = 2_000
N_SOURCES = 20
#: shares of the corpus that are planted copies of a base document
EXACT_SHARE = 0.10
NEAR_SHARE = 0.10
#: shares of base documents built to fail ``pipeline.curate``'s filters
FAIL_MARKER_SHARE = 0.08
FAIL_QUALITY_SHARE = 0.05
#: minhash banding of ``operators.dedup``: 4 bands of 4 rows
BANDS, ROWS_PER_BAND = 4, 4
#: the reported recovery floor lies this many binomial standard
#: deviations below the expectation of independent-minhash banding
RECOVERY_SIGMAS = 4.0

_LETTERS = np.array(list("bcdefghijklmnopqrstuvwxyz"))  # no "a"


def band_hit_probability(jaccard: float) -> float:
    """P(two sets share at least one LSH band) for minhash banding."""
    return 1.0 - (1.0 - jaccard**ROWS_PER_BAND) ** BANDS


def shingles(tokens: list[str]) -> set[tuple[str, str, str]]:
    """Distinct 3-token shingles, the set ``operators.dedup`` hashes."""
    return set(zip(tokens, tokens[1:], tokens[2:]))


def jaccard(a: list[str], b: list[str]) -> float:
    sa, sb = shingles(a), shingles(b)
    return len(sa & sb) / len(sa | sb)


@dataclass(frozen=True)
class PlantedCopy:
    base: int  # doc_id of the base document
    copy: int  # doc_id of the copy
    kind: str  # "verbatim", "rotated" or "near"
    jaccard: float  # 3-shingle Jaccard of copy and base


@dataclass(frozen=True)
class CorpusTruth:
    docs: int
    #: documents ``pipeline.curate`` keeps: distinct word sets among the
    #: documents built to pass both filters
    survivors: int
    copies: tuple[PlantedCopy, ...]
    #: doc_id -> component that ``operators.dedup`` must return for the
    #: corpus: ``lsh_components`` of its texts
    components: dict = field(default_factory=dict, compare=False)

    def family(self) -> dict[int, int]:
        """doc_id -> base doc_id, for every document in a planted family."""
        fam: dict[int, int] = {}
        for c in self.copies:
            fam[c.base] = c.base
            fam[c.copy] = c.base
        return fam

    def recovery_floor(self, kind: str) -> tuple[int, float]:
        """(planted pairs of ``kind``, minimum pairs that must share a
        component): the banding's expected recall for the pairs'
        Jaccard, less RECOVERY_SIGMAS binomial standard deviations."""
        ps = [band_hit_probability(c.jaccard) for c in self.copies if c.kind == kind]
        mean = sum(ps)
        sd = math.sqrt(sum(p * (1 - p) for p in ps))
        return len(ps), mean - RECOVERY_SIGMAS * sd


def vocabulary(rng: np.random.Generator) -> list[str]:
    """VOCAB_SIZE distinct words with no letter "a" and no substring
    "the", so the token "the" is the only thing the curation marker and
    stopword counts can see."""
    seen: set[str] = set()
    words: list[str] = []
    while len(words) < VOCAB_SIZE:
        w = "".join(_LETTERS[rng.integers(0, len(_LETTERS), int(rng.integers(3, 9)))])
        if "the" not in w and w not in seen:
            seen.add(w)
            words.append(w)
    return words


def _base_tokens(rng, vocab: list[str], kind: str) -> list[str]:
    """One base document. ``pass``: 40-120 tokens with 1-4 "the", so the
    quality score is above 0.2 by its length term alone. ``marker``:
    40-120 tokens, no "the" (fails the marker filter). ``quality``:
    20-35 tokens with one "the", scoring at most 0.175 + 0.5/35 < 0.2."""
    if kind == "quality":
        n, n_the = int(rng.integers(20, 36)), 1
    else:
        n = int(rng.integers(40, 121))
        n_the = 0 if kind == "marker" else int(rng.integers(1, 5))
    toks = [vocab[i] for i in rng.integers(0, len(vocab), n - n_the)]
    for pos in rng.integers(0, n - n_the + 1, n_the):
        toks.insert(int(pos), "the")
    return toks


def _near_copy(rng, vocab: list[str], toks: list[str]) -> list[str]:
    """Replace one word other than "the" by a word absent from the
    document: the word set gains a word (exact dedup keeps both) while
    the token and "the" counts, and so the quality class, stay the same."""
    present = set(toks)
    slots = [i for i, t in enumerate(toks) if t != "the"]
    pos = slots[int(rng.integers(0, len(slots)))]
    while True:
        w = vocab[int(rng.integers(0, len(vocab)))]
        if w not in present:
            break
    out = list(toks)
    out[pos] = w
    return out


def corpus(seed: int, docs: int = CORPUS_DOCS):
    """(pandas frame in the ``documents`` table schema of the test data, CorpusTruth).

    Base documents are random; about EXACT_SHARE of the corpus are
    exact copies of a base document (half verbatim, half with the words
    rotated, which curate's sorted-word-set key treats as the same
    content) and about NEAR_SHARE are near copies with one word edited.
    doc_ids are assigned after a shuffle, so a family's lowest id is
    not always its base."""
    import pandas as pd

    rng = np.random.default_rng([seed, 0xC0])
    vocab = vocabulary(rng)
    n_exact, n_near = round(docs * EXACT_SHARE), round(docs * NEAR_SHARE)
    n_base = docs - n_exact - n_near
    n_marker, n_quality = round(n_base * FAIL_MARKER_SHARE), round(n_base * FAIL_QUALITY_SHARE)
    kinds = ["marker"] * n_marker + ["quality"] * n_quality
    kinds += ["pass"] * (n_base - len(kinds))
    texts = [_base_tokens(rng, vocab, k) for k in kinds]
    planted: list[tuple[int, str]] = []  # (base index, kind) per copy
    for i in range(n_exact + n_near):
        b = int(rng.integers(0, n_base))
        if i < n_exact:
            if i % 2 == 0:
                kind, toks = "verbatim", texts[b]
            else:
                k = int(rng.integers(1, len(texts[b])))
                kind, toks = "rotated", texts[b][k:] + texts[b][:k]
        else:
            kind, toks = "near", _near_copy(rng, vocab, texts[b])
        texts.append(toks)
        kinds.append(kinds[b])
        planted.append((b, kind))
    doc_id = rng.permutation(docs)  # position -> doc_id
    survivors = len({frozenset(t) for t, k in zip(texts, kinds) if k == "pass"})
    copies = tuple(
        PlantedCopy(
            base=int(doc_id[b]),
            copy=int(doc_id[n_base + i]),
            kind=kind,
            jaccard=jaccard(texts[b], texts[n_base + i]),
        )
        for i, (b, kind) in enumerate(planted)
    )
    strs = [" ".join(t) for t in texts]
    components = lsh_components([int(d) for d in doc_id], strs)
    frame = pd.DataFrame(
        {
            "doc_id": doc_id.astype("int64"),
            "text": strs,
            "lang": "en",
            "source": [f"src{s}" for s in rng.integers(0, N_SOURCES, docs)],
            "n_chars": np.array([len(s) for s in strs], dtype="int64"),
        }
    ).sort_values("doc_id", ignore_index=True)
    return frame, CorpusTruth(docs, survivors, copies, components)


def lsh_components(doc_ids: list[int], texts: list[str]) -> dict[int, int]:
    """doc_id -> component (lowest doc_id of the group) for every document
    that shares an LSH band bucket with another, as the documented
    algorithm of ``operators.dedup`` defines it: distinct 3-token
    shingles, one md5 per shingle split into 56-bit halves h1 (hex digits
    1-14) and h2 (hex digits 18-31), minhashes ``min(h1 + i*h2)`` for
    i = 0..15, band b the values 4b..4b+3, documents linked when they
    agree on a whole band, groups the connected components of the links.

    Written from that description with hashlib and numpy, without Spark
    or the library, so it checks the library's output exactly."""
    digests, counts = bytearray(), []
    for text in texts:
        toks = text.split(" ")
        shingles = {" ".join(t) for t in zip(toks, toks[1:], toks[2:])}
        counts.append(len(shingles))
        for sh in shingles:
            digests += hashlib.md5(sh.encode()).digest()
    # bytes 0-7 and 8-15 of each digest as big-endian words: hex digits
    # 1-14 are the top 56 bits of the first, hex digits 18-31 are bits
    # 4-59 of the second
    words = np.frombuffer(bytes(digests), dtype=">u8").reshape(-1, 2)
    h1 = (words[:, 0] >> np.uint64(8)).astype(np.int64)
    h2 = ((words[:, 1] >> np.uint64(4)) & np.uint64((1 << 56) - 1)).astype(np.int64)
    i = np.arange(ROWS_PER_BAND * BANDS, dtype=np.int64)
    starts = np.r_[0, np.cumsum(counts)[:-1]]
    minhash = np.minimum.reduceat(h1[:, None] + i[None, :] * h2[:, None], starts, axis=0)
    parent = {}

    def find(x: int) -> int:
        while parent.get(x, x) != x:
            parent[x] = parent.get(parent[x], parent[x])
            x = parent[x]
        return x

    buckets: dict[tuple, int] = {}
    for d, row in zip(doc_ids, minhash):
        for b in range(BANDS):
            key = (b, *row[b * ROWS_PER_BAND : (b + 1) * ROWS_PER_BAND].tolist())
            other = buckets.setdefault(key, d)
            if other != d:
                ra, rb = find(other), find(d)
                parent.setdefault(ra, ra)
                parent.setdefault(rb, rb)
                parent[max(ra, rb)] = min(ra, rb)
    return {d: find(d) for d in parent}
