"""Seeded input generator for the benchmark workloads.

Every workload's inputs are written from ``numpy.random.default_rng(seed)``
alone, as the files the program reads (sf_dir-shaped parquet plus text
files), and each generator returns the ground truth the answer checks
compare against. Nothing here touches Spark.

Self-check (same seed -> byte-identical files, other seed -> different):

    python3 perfbench/gen.py --selfcheck
"""

from __future__ import annotations

import argparse
import hashlib
import os
import sys
import tempfile
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

LETTERS = np.array(list("abcdefghijklmnopqrstuvwxyz"))

# mr_corpus: the reference's corpus shape (16 books, ~16 MB of text)
MR_FILES = 16
MR_BYTES = 16 * 1024 * 1024
# warm-up corpus: a quarter of the bytes, a cheaper set-up than a full
# round that still leaves the first measured round close to the next
MR_WARM_FILES = 4
MR_WARM_BYTES = 4 * 1024 * 1024

# dedup documents: long enough that a one-shingle edit keeps shingle
# Jaccard >= 0.99, so the 4x3 LSH banding misses a planted near-dup with
# probability < 1e-6 and token Jaccard stays far above the 0.8 verify gate
DOC_TOKENS = (200, 400)

DOC_SCHEMA = pa.schema(
    [
        ("doc_id", pa.int64()),
        ("text", pa.string()),
        ("lang", pa.string()),
        ("source", pa.string()),
        ("n_chars", pa.int64()),
    ]
)


def _docs_table(ids, texts) -> pa.Table:
    n = len(ids)
    return pa.table(
        {
            "doc_id": pa.array(ids, pa.int64()),
            "text": texts,
            "lang": ["en"] * n,
            "source": ["gen"] * n,
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        },
        schema=DOC_SCHEMA,
    )


def _write_parquet(table: pa.Table, path: str) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path, compression="snappy")


class Vocab:
    """Unique lowercase words with Zipf(1.1) token frequencies."""

    def __init__(self, rng: np.random.Generator, size: int = 50_000):
        words: dict[str, None] = {}
        while len(words) < size:
            n = size - len(words)
            lens = rng.integers(2, 11, size=n)
            chars = LETTERS[rng.integers(0, 26, size=int(lens.sum()))]
            ends = np.cumsum(lens)
            for s, e in zip(ends - lens, ends):
                words.setdefault("".join(chars[s:e]), None)
        self.words = np.array(list(words), dtype=object)
        p = 1.0 / np.arange(1, size + 1) ** 1.1
        self.cdf = np.cumsum(p / p.sum())

    def sample(self, rng: np.random.Generator, n: int) -> np.ndarray:
        return np.minimum(np.searchsorted(self.cdf, rng.random(n)), len(self.words) - 1)


def _render(rng: np.random.Generator, vocab: Vocab, ids: np.ndarray) -> str:
    """Tokens joined by mostly spaces, some punctuation and line breaks —
    every separator is a non-letter run, so both tokenizers split there."""
    seps = np.array([" ", " ", " ", " ", " ", ", ", ". ", "\n"], dtype=object)
    out = np.empty(2 * len(ids), dtype=object)
    out[0::2] = vocab.words[ids]
    out[1::2] = seps[rng.integers(0, len(seps), size=len(ids))]
    out[-1] = "\n"
    return "".join(out)


# --------------------------------------------------------------------- mr


@dataclass
class MrTruth:
    total_bytes: int
    word_count: dict[str, int]
    # word -> "<n_docs> name1,name2,..." (ii.go's value format)
    inverted_index: dict[str, str]
    # word -> (n_docs, comma-joined doc_ids in string order) (q61)
    q61: dict[str, tuple[int, str]]


def _mr_corpus(rng, vocab, out_dir, n_files, n_bytes) -> MrTruth:
    # uneven book sizes, like a real corpus, but the same for every seed:
    # wholeTextFiles packs files into partitions by size, so seed-drawn
    # sizes would change the job's balance from run to run
    shares = np.linspace(0.5, 1.5, n_files)
    sizes = (shares / shares.sum() * n_bytes).astype(int)
    names = [f"book-{i:02d}.txt" for i in range(n_files)]
    counts = np.zeros((n_files, len(vocab.words)), dtype=np.int64)
    texts = []
    mean_len = float(np.mean([len(w) for w in vocab.words[vocab.sample(rng, 4096)]])) + 1.2
    for i, size in enumerate(sizes):
        ids = vocab.sample(rng, max(1, int(size / mean_len)))
        text = _render(rng, vocab, ids)
        texts.append(text)
        counts[i] = np.bincount(ids, minlength=len(vocab.words))
        with open(os.path.join(out_dir, "text", names[i]), "w", encoding="utf-8") as f:
            f.write(text)
    _write_parquet(_docs_table(list(range(n_files)), texts), os.path.join(out_dir, "sf", "documents.parquet"))
    total = counts.sum(axis=0)
    present = counts > 0
    doc_ids_str = sorted(str(i) for i in range(n_files))
    wc, ii, q61 = {}, {}, {}
    for w in np.flatnonzero(total):
        word = vocab.words[w]
        wc[word] = int(total[w])
        files = np.flatnonzero(present[:, w])
        ii[word] = f"{len(files)} {','.join(names[f] for f in files)}"
        in_doc = {str(f) for f in files}
        q61[word] = (len(files), ",".join(d for d in doc_ids_str if d in in_doc))
    return MrTruth(
        total_bytes=sum(len(t.encode()) for t in texts),
        word_count=wc,
        inverted_index=ii,
        q61=q61,
    )


@dataclass
class MrInputs:
    text_glob: str
    sf_dir: str
    truth: MrTruth
    warm: "MrInputs | None" = None


def gen_mr_corpus(seed: int, root: str) -> MrInputs:
    rng = np.random.default_rng([seed, 1])
    vocab = Vocab(rng)
    parts = {}
    for part, n_files, n_bytes in (("main", MR_FILES, MR_BYTES), ("warm", MR_WARM_FILES, MR_WARM_BYTES)):
        d = os.path.join(root, part)
        for sub in ("text", "sf"):
            os.makedirs(os.path.join(d, sub), exist_ok=True)
        truth = _mr_corpus(rng, vocab, d, n_files, n_bytes)
        parts[part] = MrInputs(os.path.join(d, "text", "*.txt"), os.path.join(d, "sf"), truth)
    parts["main"].warm = parts["warm"]
    return parts["main"]


# ------------------------------------------------------------------ dedup


def _doc(rng, vocab) -> list[str]:
    return list(vocab.words[vocab.sample(rng, int(rng.integers(*DOC_TOKENS)))])


def _near_dup(rng, vocab, toks: list[str]) -> list[str]:
    """A one-shingle edit: prepend, append or replace the last token
    (never with itself, which would make a token-identical copy)."""
    w = toks[-1]
    while w == toks[-1]:
        w = str(vocab.words[int(rng.integers(len(vocab.words)))])
    kind = int(rng.integers(3))
    if kind == 0:
        return [w] + toks
    if kind == 1:
        return toks + [w]
    return toks[:-1] + [w]


def _exact_copy(rng, text: str) -> str:
    """Byte-identical copy, or (1 in 4) a whitespace variant with the
    same token sequence — both are exact duplicates to q148's pre-pass."""
    return text.replace(" ", "  ", 1) if rng.random() < 0.25 else text


@dataclass
class IngestSet:
    """A standing corpus plus increments, and the admission the
    rebuild-equivalence contract implies."""

    # documents.parquet = corpus, inc_NN.parquet = increments,
    # union/documents.parquet = both (the rebuild-equivalence input)
    sf_dir: str
    n_increments: int
    increment_docs: int
    # doc_id -> ("new" | "exact" | "near_dup", match doc_id or None)
    expected: dict[int, tuple[str, int | None]]
    # every doc_id of corpus + increments, and the admitted subset
    all_ids: frozenset[int]
    admitted: frozenset[int]


def _ingest_set(rng, vocab, sf_dir, n_corpus, n_inc, inc_size) -> IngestSet:
    """Groups are cliques (every dup derives from one original), each
    increment is internally dup-free and ids grow increment over
    increment — the conditions under which streaming admission equals a
    from-scratch q148 rebuild over the union."""
    corpus = [" ".join(_doc(rng, vocab)) for _ in range(n_corpus)]
    admitted_toks = {i: t.split(" ") for i, t in enumerate(corpus)}
    _write_parquet(_docs_table(list(range(n_corpus)), corpus), os.path.join(sf_dir, "documents.parquet"))
    all_texts = list(corpus)
    expected: dict[int, tuple[str, int | None]] = {}
    next_id, inc_docs = n_corpus, 0
    for k in range(n_inc):
        ids, texts, fresh = [], [], {}
        originals = rng.choice(sorted(admitted_toks), size=inc_size, replace=False)
        # a fixed share of each kind (a fifth exact copies, a fifth near
        # duplicates), in seeded order, so the admission work per
        # increment does not vary with the seed
        n_dup = inc_size // 5
        kinds = rng.permutation(np.repeat([0, 1, 2], [n_dup, n_dup, inc_size - 2 * n_dup]))
        for j in range(inc_size):
            kind = kinds[j]
            orig = int(originals[j])
            if kind == 0:
                text = _exact_copy(rng, " ".join(admitted_toks[orig]))
                expected[next_id] = ("exact", orig)
            elif kind == 1:
                text = " ".join(_near_dup(rng, vocab, admitted_toks[orig]))
                expected[next_id] = ("near_dup", orig)
            else:
                toks = _doc(rng, vocab)
                text = " ".join(toks)
                fresh[next_id] = toks
                expected[next_id] = ("new", None)
            ids.append(next_id)
            texts.append(text)
            next_id += 1
        admitted_toks.update(fresh)
        all_texts += texts
        inc_docs += len(ids)
        _write_parquet(_docs_table(ids, texts), os.path.join(sf_dir, f"inc_{k:02d}.parquet"))
    _write_parquet(
        _docs_table(list(range(next_id)), all_texts), os.path.join(sf_dir, "union", "documents.parquet")
    )
    return IngestSet(
        sf_dir=sf_dir,
        n_increments=n_inc,
        increment_docs=inc_docs,
        expected=expected,
        all_ids=frozenset(range(next_id)),
        admitted=frozenset(admitted_toks),
    )


INGEST_SETS = 4  # a 10 s run admits 2 (4 when its ops are fast)
INGEST_CORPUS = 300
INGEST_INCREMENTS = 2
INGEST_INC_SIZE = 40


@dataclass
class IngestInputs:
    sets: list[IngestSet]
    warm: IngestSet


def gen_dedup_ingest(seed: int, root: str) -> IngestInputs:
    rng = np.random.default_rng([seed, 3])
    vocab = Vocab(rng)
    sets = [
        _ingest_set(rng, vocab, os.path.join(root, f"set{i:02d}"), INGEST_CORPUS, INGEST_INCREMENTS, INGEST_INC_SIZE)
        for i in range(INGEST_SETS)
    ]
    warm = _ingest_set(rng, vocab, os.path.join(root, "warm"), INGEST_CORPUS, INGEST_INCREMENTS, INGEST_INC_SIZE)
    return IngestInputs(sets, warm)


# -------------------------------------------------------------------- ann

ANN_VECTORS = 20_000
ANN_DIM = 64
ANN_COMPONENTS = 24
ANN_BATCH = 8
ANN_BATCHES = 16  # a 10 s run serves about 10
ANN_K = 10
QUERY_ID_BASE = 10_000_000  # disjoint from vec_id (serve drops vec_id == query_id)


@dataclass
class AnnInputs:
    sf_dir: str
    vectors: np.ndarray  # float32 (n, d), row i = vec_id i
    batches: list[tuple[list[int], np.ndarray]]  # (query_ids, float32 vectors)
    exact_top: dict[int, list[int]]  # query_id -> exact cosine top-k vec_ids
    warm: tuple[list[int], np.ndarray]


def gen_ann_serve(seed: int, root: str) -> AnnInputs:
    """Gaussian-mixture embeddings (64-d) plus held-out query batches
    from the same mixture; ground truth is exact cosine top-10."""
    rng = np.random.default_rng([seed, 4])
    centers = rng.normal(0.0, 1.0, size=(ANN_COMPONENTS, ANN_DIM))
    n_q = ANN_BATCH * (ANN_BATCHES + 1)
    labels = rng.integers(0, ANN_COMPONENTS, size=ANN_VECTORS + n_q)
    allv = (centers[labels] + rng.normal(0.0, 0.6, size=(len(labels), ANN_DIM))).astype(np.float32)
    vecs, queries = allv[:ANN_VECTORS], allv[ANN_VECTORS:]
    sf_dir = os.path.join(root, "sf")
    _write_parquet(
        pa.table(
            {
                "vec_id": pa.array(range(ANN_VECTORS), pa.int64()),
                "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
                "label": pa.array(labels[:ANN_VECTORS], pa.int32()),
            }
        ),
        os.path.join(sf_dir, "embeddings.parquet"),
    )
    v64 = vecs.astype(np.float64)
    v64 /= np.linalg.norm(v64, axis=1, keepdims=True)
    q64 = queries.astype(np.float64)
    q64 /= np.linalg.norm(q64, axis=1, keepdims=True)
    sims = q64 @ v64.T
    top = np.argsort(-sims, axis=1, kind="stable")[:, :ANN_K]
    qids = [QUERY_ID_BASE + i for i in range(n_q)]
    batches = [
        (qids[s : s + ANN_BATCH], queries[s : s + ANN_BATCH])
        for s in range(ANN_BATCH, n_q, ANN_BATCH)
    ]
    return AnnInputs(
        sf_dir=sf_dir,
        vectors=vecs,
        batches=batches,
        exact_top={q: [int(v) for v in top[i]] for i, q in enumerate(qids)},
        warm=(qids[:ANN_BATCH], queries[:ANN_BATCH]),
    )


GENERATORS = {
    "mr_corpus": gen_mr_corpus,
    "dedup_ingest": gen_dedup_ingest,
    "ann_serve": gen_ann_serve,
}


# --------------------------------------------------------------- selfcheck


def _tree_digest(root: str) -> str:
    h = hashlib.sha256()
    for d, _dirs, files in sorted(os.walk(root)):
        for f in sorted(files):
            p = os.path.join(d, f)
            h.update(os.path.relpath(p, root).encode())
            with open(p, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def selfcheck(scratch: str) -> int:
    """Same seed -> byte-identical input trees; another seed -> different."""
    failed = 0
    for name, gen in GENERATORS.items():
        digests = []
        for run, seed in enumerate((7, 7, 8)):
            root = os.path.join(scratch, f"{name}-{run}")
            gen(seed, root)
            digests.append(_tree_digest(root))
        ok = digests[0] == digests[1] and digests[0] != digests[2]
        failed += not ok
        print(f"{'OK' if ok else 'FAIL'} {name}: seed 7 x2 {digests[0][:12]} {digests[1][:12]}, seed 8 {digests[2][:12]}")
    return 1 if failed else 0


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--selfcheck", action="store_true", required=True)
    ap.parse_args()
    work = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), ".perfbench_work")
    os.makedirs(work, exist_ok=True)
    with tempfile.TemporaryDirectory(dir=work, prefix="gen-selfcheck-") as scratch:
        return selfcheck(scratch)


if __name__ == "__main__":
    sys.exit(main())
