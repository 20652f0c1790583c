"""Seeded input generator for the benchmark.

Everything the program under test sees is written here as parquet files
(read back through ``sources.io.load_table``); the client-side streams
(queries, batches, churn ops) and the ground truth stay in the returned
``Inputs`` object and in ``manifest.json``.  The same seed and sizes give
the same files byte for byte.

Corpus model: a Zipf vocabulary of lowercase ASCII words, lognormal
document lengths, planted exact duplicates and near-duplicates whose
token-set Jaccard is computed here exactly (the package's dedup operators
compare distinct-token sets), 64-d embeddings with planted near-duplicate
groups, a query stream mixing hot, rare and out-of-vocabulary terms, and a
churn stream of append / delete / probe operations.
"""

from __future__ import annotations

import json
import os
from dataclasses import asdict, dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Zipf's law for word frequencies: exponent close to 1 (Zipf 1949;
# Piantadosi, Psychon. Bull. Rev. 2014).
ZIPF_S = 1.0
# Terms per query, cycled so every run sees the same mix: mean 2.4 and
# 30% single-term, near what web-search logs report (mean 2.35 terms,
# Silverstein et al., SIGIR Forum 1999; 2.4, Spink et al., JASIST 2001).
QUERY_LENGTHS = (1, 1, 1, 2, 2, 2, 3, 3, 4, 5)
# Query-term mix, an assumption (README.md): hot terms from the corpus
# Zipf, rare terms uniform over the vocabulary's tail, the rest
# out-of-vocabulary.
HOT_SHARE, RARE_SHARE = 0.55, 0.35
LETTERS = np.array(list("abcdefghijklmnopqrstuvwxyz"))


@dataclass(frozen=True)
class Sizes:
    """How much of everything one data set holds.  The sizes are chosen
    for run time, not measured (README.md)."""
    vocab: int = 30_000
    docs: int = 8_000
    median_len: float = 140.0
    len_sigma: float = 0.6
    exact_dups: int = 120
    near_dups: int = 240
    vectors: int = 2_500
    vec_centers: int = 16
    vec_dup_groups: int = 60
    queries: int = 512
    batches: int = 64
    batch_size: int = 16
    churn_rounds: int = 4
    append_docs: int = 200
    delete_docs: int = 60
    churn_probes: int = 4


TINY = Sizes(vocab=400, docs=120, median_len=30.0, exact_dups=4,
             near_dups=8, vectors=80, vec_centers=4, vec_dup_groups=4,
             queries=12, batches=2, batch_size=4, churn_rounds=2,
             append_docs=10, delete_docs=5, churn_probes=2)


@dataclass
class Inputs:
    """Generated inputs plus the token arrays the numpy references use.

    ``tokens``/``tok_doc`` cover every document ever generated (base
    corpus, planted copies and all append batches); ``doc_ids[i]`` is the
    id of document index ``i`` and ``lengths[i]`` its token count."""
    data_dir: str
    vocab: list[str]
    tokens: np.ndarray
    tok_doc: np.ndarray
    doc_ids: np.ndarray
    lengths: np.ndarray
    n_base: int
    vectors: np.ndarray
    queries: list[str]
    batches: list[dict[str, str]]
    churn: list[dict]
    near_pairs: list[tuple[int, int, float]]
    vec_groups: list[list[int]] = field(default_factory=list)

    def term_id(self) -> dict[str, int]:
        return {w: i for i, w in enumerate(self.vocab)}


def _vocabulary(rng: np.random.Generator, n: int) -> list[str]:
    words: list[str] = []
    seen: set[str] = set()
    while len(words) < n:
        lens = rng.integers(3, 11, size=n)
        chars = rng.integers(0, 26, size=(n, 10))
        for ln, row in zip(lens, chars):
            w = "".join(LETTERS[row[:ln]])
            if w not in seen:
                seen.add(w)
                words.append(w)
                if len(words) == n:
                    break
    return words


def _zipf_p(n: int) -> np.ndarray:
    p = 1.0 / np.arange(1, n + 1) ** ZIPF_S
    return p / p.sum()


def _draw_docs(rng, n, sizes, p):
    lens = np.clip(np.round(rng.lognormal(np.log(sizes.median_len),
                                          sizes.len_sigma, n)),
                   20, 20 * sizes.median_len).astype(np.int64)
    toks = rng.choice(len(p), size=int(lens.sum()), p=p).astype(np.int32)
    return np.split(toks, np.cumsum(lens)[:-1])


def _jaccard(a: np.ndarray, b: np.ndarray) -> float:
    sa, sb = np.unique(a), np.unique(b)
    inter = np.intersect1d(sa, sb, assume_unique=True).size
    return round(inter / (sa.size + sb.size - inter), 6)


def _oov(rng) -> str:
    # Digits never occur in vocabulary words, so this never matches a term.
    return f"zq{int(rng.integers(0, 10**6))}"


def _query_terms(rng, vocab, p, n_terms) -> list[str]:
    out = []
    v = len(vocab)
    for _ in range(n_terms):
        u = rng.random()
        if u < HOT_SHARE:                 # hot: drawn from the corpus Zipf
            out.append(vocab[int(rng.choice(v, p=p))])
        elif u < HOT_SHARE + RARE_SHARE:  # rare: uniform over the tail
            out.append(vocab[int(rng.integers(v // 10, v))])
        else:
            out.append(_oov(rng))
    return out


def _write(table: pa.Table, path: str) -> None:
    pq.write_table(table, path, compression="snappy")


def generate(seed: int, data_dir: str, sizes: Sizes = Sizes()) -> Inputs:
    """Write the inputs for ``seed`` under ``data_dir`` and return them."""
    rng = np.random.default_rng(seed)
    os.makedirs(data_dir, exist_ok=True)
    vocab = _vocabulary(rng, sizes.vocab)
    p = _zipf_p(sizes.vocab)

    docs = _draw_docs(rng, sizes.docs, sizes, p)
    n_orig = len(docs)
    near_pairs: list[tuple[int, int, float]] = []
    sources = rng.choice(n_orig, size=sizes.exact_dups + sizes.near_dups,
                         replace=False)
    for s in sources[:sizes.exact_dups]:
        docs.append(docs[s].copy())
        near_pairs.append((int(s), len(docs) - 1, 1.0))
    # Replace a small share of positions with Zipf draws: shares up to
    # ~5% keep token-set Jaccard near or above 0.9, larger ones fall below.
    for i, s in enumerate(sources[sizes.exact_dups:]):
        base = docs[s]
        share = (0.01, 0.02, 0.04, 0.08, 0.15)[i % 5]
        k = max(1, int(round(share * base.size)))
        pos = rng.choice(base.size, size=k, replace=False)
        var = base.copy()
        var[pos] = rng.choice(len(p), size=k, p=p)
        docs.append(var)
        near_pairs.append((int(s), len(docs) - 1, _jaccard(base, var)))
    n_base = len(docs)

    def qlen(i: int) -> int:
        return QUERY_LENGTHS[i % len(QUERY_LENGTHS)]

    queries = [" ".join(_query_terms(rng, vocab, p, qlen(i)))
               for i in range(sizes.queries)]
    batches = []
    for _ in range(sizes.batches):
        pool = _query_terms(rng, vocab, p, 6)
        batches.append({
            f"q{j}": " ".join(rng.choice(pool, size=qlen(j)))
            for j in range(sizes.batch_size)})

    churn: list[dict] = []
    live = list(range(n_base))
    for r in range(sizes.churn_rounds):
        new = _draw_docs(rng, sizes.append_docs, sizes, p)
        first = len(docs)
        docs.extend(new)
        churn.append({"op": "append", "table": f"append_{r:03d}",
                      "docs": list(range(first, len(docs)))})
        live.extend(range(first, len(docs)))
        gone = sorted(int(x) for x in rng.choice(live, size=sizes.delete_docs,
                                                 replace=False))
        gone_set = set(gone)
        live = [d for d in live if d not in gone_set]
        churn.append({"op": "delete", "docs": gone})
        for i in range(sizes.churn_probes):
            terms = _query_terms(rng, vocab, p,
                                 qlen(r * sizes.churn_probes + i))
            churn.append({"op": "probe", "query": " ".join(terms)})

    lengths = np.array([d.size for d in docs], dtype=np.int64)
    tokens = np.concatenate(docs)
    tok_doc = np.repeat(np.arange(len(docs), dtype=np.int32), lengths)
    doc_ids = np.arange(1, len(docs) + 1, dtype=np.int64)
    vocab_arr = np.array(vocab, dtype=object)
    texts = [" ".join(vocab_arr[d]) for d in docs]

    def doc_table(idx):
        return pa.table({"doc_id": pa.array(doc_ids[idx], pa.int64()),
                         "text": pa.array([texts[i] for i in idx],
                                          pa.string())})

    _write(doc_table(list(range(n_base))), f"{data_dir}/documents.parquet")
    for op in churn:
        if op["op"] == "append":
            _write(doc_table(op["docs"]), f"{data_dir}/{op['table']}.parquet")

    vectors, vec_groups = _vectors(rng, sizes)
    _write(pa.table({
        "vec_id": pa.array(np.arange(1, len(vectors) + 1), pa.int64()),
        "embedding": pa.array(list(vectors), pa.list_(pa.float32())),
    }), f"{data_dir}/embeddings.parquet")

    inputs = Inputs(data_dir=data_dir, vocab=vocab,
                    tokens=tokens, tok_doc=tok_doc, doc_ids=doc_ids,
                    lengths=lengths, n_base=n_base, vectors=vectors,
                    queries=queries, batches=batches, churn=churn,
                    near_pairs=near_pairs, vec_groups=vec_groups)
    with open(f"{data_dir}/manifest.json", "w") as f:
        json.dump({"seed": seed, "sizes": asdict(sizes), "queries": queries,
                   "batches": batches, "churn": churn,
                   "near_pairs": near_pairs, "vec_groups": vec_groups},
                  f, sort_keys=True)
    return inputs


def _vectors(rng, sizes: Sizes):
    """Gaussian clusters plus planted groups of 2-4 near-copies (cosine to
    their source well above 0.95).  Returns (float32 matrix, groups of
    0-based row indices)."""
    d = 64
    centers = rng.normal(size=(sizes.vec_centers, d))
    n_plain = sizes.vectors - 3 * sizes.vec_dup_groups
    assign = rng.integers(0, sizes.vec_centers, size=n_plain)
    rows = [centers[assign] + 0.6 * rng.normal(size=(n_plain, d))]
    groups = []
    nxt = n_plain
    src = rng.choice(n_plain, size=sizes.vec_dup_groups, replace=False)
    for s in src:
        k = int(rng.integers(2, 5))
        base = rows[0][s]
        rows.append(base + 0.01 * np.linalg.norm(base) / np.sqrt(d)
                    * rng.normal(size=(k, d)))
        groups.append([int(s)] + list(range(nxt, nxt + k)))
        nxt += k
    return np.vstack(rows).astype(np.float32), groups
