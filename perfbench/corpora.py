"""Seeded inputs for the benchmark: corpora and request streams.

Everything here is a pure function of the seed, so one seed gives the
same inputs on every machine.  Nothing in this module touches Spark or
the engine; the workloads hand the generated tables to the program.

Two corpora:

* ``sf_documents`` / ``sf_embeddings`` reproduce the shape of the
  project's sf0.1 test tables (5,000 documents over the same 30-word
  vocabulary plus 250 ``dup`` near-duplicates, 2,000 unit vectors of
  dimension 64 in 10 label clusters).  Every common term sits in about
  77 % of documents, so every query reads every segment.
* ``zipf_documents`` draws tokens from a Zipf(1.1) law over 200,000
  word ids: about 10^5 distinct terms, most of them seen once, with a
  small hot head.  This is the corpus on which segment pruning, the
  term -> segments directory and the driver LRU have something to do.
"""

from __future__ import annotations

import numpy as np

SF_WORDS = (
    "a agg batch big column customer data fast filter group hash join "
    "key line merge order part query row scan slow small sort spark "
    "stream table the value vector window"
).split()
SF_LANGS = ["en", "zh", "es", "fr", "de"]
SF_LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]


def sf_documents(seed: int, n_docs: int = 5000) -> dict[str, list]:
    """Columns doc_id, text, lang, source, n_chars of an sf0.1-shaped
    documents table: 10-100 uniform tokens over 30 words; one doc in
    20 is an earlier doc's text plus the token ``dup``."""
    rng = np.random.default_rng([seed, 1])
    words = np.array(SF_WORDS, dtype=object)
    lens = rng.integers(10, 101, n_docs)
    toks = words[rng.integers(0, len(words), int(lens.sum()))]
    off = np.concatenate([[0], np.cumsum(lens)])
    texts = [" ".join(toks[off[i]:off[i + 1]]) for i in range(n_docs)]
    dups = rng.choice(np.arange(1, n_docs), size=n_docs // 20, replace=False)
    for d in sorted(dups):
        texts[d] = texts[int(rng.integers(0, d))] + " dup"
    lang = rng.choice(SF_LANGS, size=n_docs, p=SF_LANG_P)
    return {
        "doc_id": list(range(n_docs)),
        "text": texts,
        "lang": [str(x) for x in lang],
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": [len(t) for t in texts],
    }


def sf_embeddings(seed: int, n: int = 2000, dim: int = 64) -> dict[str, list]:
    """Columns vec_id, embedding (unit float32), label (10 clusters)."""
    rng = np.random.default_rng([seed, 2])
    labels = rng.integers(0, 10, n)
    centers = rng.normal(0.0, 0.08, (10, dim))
    v = centers[labels] + rng.normal(0.0, 1.0, (n, dim))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    return {
        "vec_id": list(range(n)),
        "embedding": [row.tolist() for row in v],
        "label": [int(x) for x in labels],
    }


ZIPF_VOCAB = 200_000
ZIPF_S = 1.1


def zipf_word(rank: int) -> str:
    """Term string of the word with 0-based frequency rank ``rank``."""
    return "w" + np.base_repr(rank, 36).lower()


def zipf_documents(seed: int, n_docs: int) -> dict[str, list]:
    """Columns doc_id, text: 20-120 tokens per doc, Zipf(1.1) over
    ``ZIPF_VOCAB`` ranks (rank 0 the most frequent)."""
    rng = np.random.default_rng([seed, 3])
    p = 1.0 / np.arange(1, ZIPF_VOCAB + 1) ** ZIPF_S
    p /= p.sum()
    lens = rng.integers(20, 121, n_docs)
    ranks = rng.choice(ZIPF_VOCAB, size=int(lens.sum()), p=p)
    used = np.unique(ranks)
    names = np.empty(ZIPF_VOCAB, dtype=object)
    names[used] = [zipf_word(int(r)) for r in used]
    toks = names[ranks]
    off = np.concatenate([[0], np.cumsum(lens)])
    texts = [" ".join(toks[off[i]:off[i + 1]]) for i in range(n_docs)]
    return {"doc_id": list(range(n_docs)), "text": texts}


def doc_freqs(texts: list[str]) -> dict[str, int]:
    """term -> document frequency (whitespace tokens; the generators
    emit only tokenizer-clean lowercase words)."""
    df: dict[str, int] = {}
    for t in texts:
        for w in set(t.split()):
            df[w] = df.get(w, 0) + 1
    return df


# -- request streams -----------------------------------------------------

def sf_query_strings(seed: int, n: int) -> list[str]:
    """Seeded query strings over the sf vocabulary, cycling through
    every shape the parser accepts that the search workload times."""
    rng = np.random.default_rng([seed, 4])
    w = [x for x in SF_WORDS if x not in ("a", "the")]

    def pick(k: int) -> list[str]:
        return [str(x) for x in rng.choice(w, size=k, replace=False)]

    shapes = [
        lambda: pick(1)[0],
        lambda: "{} {}".format(*pick(2)),
        lambda: "{} OR {} OR dup".format(*pick(2)),
        lambda: "({} {}) OR dup".format(*pick(2)),
        lambda: "{} -{}".format(*pick(2)),
        lambda: '"{} {}"'.format(*pick(2)),
        lambda: "{} NEAR/3 {}".format(*pick(2)),
        lambda: pick(1)[0][:3] + "*",
        lambda: pick(1)[0][:-1] + "~",
        lambda: (lambda s: s[0] + "?" + s[2:])(pick(1)[0]),
        lambda: "zzmissing{}".format(int(rng.integers(1_000_000))),
    ]
    return [shapes[i % len(shapes)]() for i in range(n)]


def head_terms(df: dict[str, int], n: int = 64, skip: int = 16) -> list[str]:
    """The hot head: the ``n`` most frequent terms after the ``skip``
    stopword-like ones that sit in nearly every document (ties by
    term)."""
    return sorted(df, key=lambda t: (-df[t], t))[skip:skip + n]


# One block of serve traffic: (pool, kind) per request.  Each block of
# ten holds 6 head and 4 tail requests, 3 of them over the wire, so
# every run sees the same mix; a seeded shuffle orders each block.
# Warm local head requests take ~2 ms, tail requests (LRU misses)
# ~45 ms, wire head requests ~80 ms: the median falls inside the tail
# mode and the 90th percentile inside the wire-head mode.
SERVE_BLOCK = (
    [("head", "local")] * 4 + [("head", "wire")] * 2
    + [("tail", "local")] * 3 + [("tail", "wire")]
)


def spread_order(n: int) -> list[int]:
    """0..n-1 in bit-reversed order: every prefix of it is spread about
    evenly over the range (0, 4, 2, 6, 1, 5, 3, 7 for n = 8)."""
    bits = max(1, (n - 1).bit_length())
    rev = [int(format(i, f"0{bits}b")[::-1], 2) for i in range(1 << bits)]
    return [i for i in rev if i < n]


def serve_requests(
    seed: int, df: dict[str, int], n: int,
) -> list[tuple[str, str, tuple[str, ...]]]:
    """(kind, op, terms) requests over a Zipf corpus.  kind is
    ``local`` (``Index.local_search``) or ``wire`` (reference protocol
    over TCP); op is ``term``, ``and`` or ``or``.  Head requests repeat
    one popular query per :func:`head_terms` term (the hot head, a
    working set that fits the cache); its op and partner term follow
    from the term's rank.  Local head requests pick popular queries at
    random.  Wire head requests cycle through them in bit-reversed
    rank order (:func:`spread_order`), so a run asks each about equally
    often whatever its length, and the part-cycle at the end of a run
    still spreads evenly over the ranks: a wire head query costs 20-100
    ms, rising with its terms' frequency, and a seeded order let a
    run's 90th percentile depend on which ranks its last part-cycle
    reached.  The server's parity cache is unbounded, so cycling costs
    it nothing, whereas a cyclic scan would make the byte-bounded
    driver LRU miss on every request.  Tail requests are fresh queries over terms seen
    in 1-20 documents (the tail, a working set that does not fit).  The
    mix follows ``SERVE_BLOCK``."""
    rng = np.random.default_rng([seed, 5])
    head = head_terms(df)
    hot = set(head)
    tail = sorted(t for t in df if df[t] <= 20 and t not in hot)
    ops = ("term", "and", "or")

    def query(op, first, pool):
        if op == "term":
            return op, (first,)
        other = first
        while other == first:
            other = pool[int(rng.integers(0, len(pool)))]
        return op, (first, other)

    half = len(head) // 2
    popular = [(ops[i % 3], (t,) if i % 3 == 0 else (t, head[i - half]))
               for i, t in enumerate(head)]
    order = spread_order(len(popular))
    wire_asked = 0
    out = []
    while len(out) < n:
        for j in rng.permutation(len(SERVE_BLOCK)):
            pool, kind = SERVE_BLOCK[j]
            if pool == "head" and kind == "wire":
                op, terms = popular[order[wire_asked % len(popular)]]
                wire_asked += 1
            elif pool == "head":
                op, terms = popular[int(rng.integers(0, len(popular)))]
            else:
                op, terms = query(ops[int(rng.integers(0, 3))],
                                  tail[int(rng.integers(0, len(tail)))],
                                  tail)
            out.append((kind, op, terms))
    return out[:n]


def fresh_queries(
    seed: int, batch_texts: list[str], df: dict[str, int], n: int
) -> list[str]:
    """Queries issued after a refresh: half name terms of the batch
    just ingested (read-after-write), half hot corpus terms."""
    rng = np.random.default_rng([seed, 6])
    fresh = sorted({w for t in batch_texts for w in t.split()})
    hot = head_terms(df)
    out = []
    for i in range(n):
        if i % 2 == 0:
            out.append(str(fresh[int(rng.integers(len(fresh)))]))
        else:
            a, b = rng.choice(hot, size=2, replace=False)
            out.append(f"{a} OR {b}")
    return out
