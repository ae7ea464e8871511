"""Output checks, run outside the timed region.

Each check returns ``None`` when the answer is right and a one-line
cause when it is not; the caller counts every cause as one failed
operation.
"""

from __future__ import annotations

import math
import os
from itertools import islice

from chearch_spark.oracle import OracleIndex, _evaluate
from chearch_spark.plans.query import And, Diff, Node, Or, Term

REL = 1e-9  # the tests' tolerance for BM25 scores


def oracle_evaluable(node: Node) -> bool:
    """Shapes :class:`OracleIndex` scores: terms under AND, OR, NOT."""
    if isinstance(node, Term):
        return True
    if isinstance(node, (And, Or, Diff)):
        return oracle_evaluable(node.a) and oracle_evaluable(node.b)
    return False


def ranked_mismatch(got, want, rel: float = REL) -> str | None:
    """Compare [(doc_id, score)] lists: same ids in the same order and
    scores equal within ``rel``."""
    gi = [int(d) for d, _ in got]
    wi = [int(d) for d, _ in want]
    if gi != wi:
        return f"ids {gi[:5]} != expected {wi[:5]}"
    for (d, a), (_, b) in zip(got, want):
        if not math.isclose(float(a), float(b), rel_tol=rel, abs_tol=0.0):
            return f"doc {d}: score {a!r} != expected {b!r}"
    return None


class LoadedOracle(OracleIndex):
    """:class:`OracleIndex` for a corpus that is fully loaded before the
    first query: ``avgdl`` is summed once instead of on every scored
    document (same arithmetic, same value)."""

    _avgdl: float | None = None

    @property
    def avgdl(self) -> float:
        if self._avgdl is None:
            self._avgdl = OracleIndex.avgdl.fget(self)
        return self._avgdl


def bm25_oracle(doc_ids, texts, terms: set[str] | None = None) -> OracleIndex:
    """BM25 oracle over the corpus.  With ``terms``, only those terms'
    postings are loaded (document lengths stay whole): a BM25 score
    depends on nothing but the query terms' postings, the document
    lengths and the document count, and loading a 10^5-term corpus in
    full costs more than the run it checks."""
    if terms is None:
        return LoadedOracle.from_rows(zip(doc_ids, texts))
    ox = LoadedOracle()
    for doc_id, text in zip(doc_ids, texts):
        toks = text.split()
        ox.add_pretokenized(
            int(doc_id), [(p, t) for p, t in enumerate(toks) if t in terms])
        ox.doc_len[-1] = len(toks)
    return ox


def segment_oracles(index_path: str, texts_by_id: dict[int, str],
                    terms: set[str]) -> list[OracleIndex]:
    """One parity oracle per live segment, in ascending seg_id order,
    holding the segment's docs in doc_index order (the order the
    engine's operand replay walks).  Only positions of ``terms`` are
    loaded: parity answers depend on nothing else."""
    import pyarrow.dataset as ds

    dm = ds.dataset(os.path.join(index_path, "docmap"),
                    format="parquet").to_table(
        columns=["seg_id", "doc_index", "doc_id"]).to_pandas()
    out = []
    for _sid, seg in sorted(dm.groupby("seg_id"), key=lambda kv: kv[0]):
        ox = OracleIndex()
        for doc_id in seg.sort_values("doc_index")["doc_id"]:
            toks = texts_by_id[int(doc_id)].split()
            ox.add_pretokenized(
                int(doc_id),
                [(p, t) for p, t in enumerate(toks) if t in terms],
            )
        out.append(ox)
    return out


def wire_expected(seg_oracles: list[OracleIndex], node: Node, id_of,
                  max_records: int) -> list[tuple[int, int, int]]:
    """The reference's per-segment replay, concatenated in seg_id
    order and cut to the wire response size."""
    rows = []
    for ox in seg_oracles:
        need = max_records - len(rows)
        if need <= 0:
            break
        rows.extend((t, p, ox.doc_ids[d]) for t, p, d in
                    islice(_evaluate(ox._operand(node)), need))
    return [(id_of(t), int(p), int(d)) for t, p, d in rows]


def rows_mismatch(got, want, float_rel: float = 1e-6) -> str | None:
    """Multiset equality of result rows; floats compared within
    ``float_rel`` after rounding both sides the same way."""
    def norm(rows):
        out = []
        for r in rows:
            out.append(tuple(
                round(v, 6) if isinstance(v, float) else
                tuple(v) if isinstance(v, list) else v
                for v in r
            ))
        return sorted(out, key=repr)

    g, w = norm(got), norm(want)
    if len(g) != len(w):
        return f"{len(g)} rows != expected {len(w)}"
    for a, b in zip(g, w):
        if a == b:
            continue
        if len(a) != len(b) or any(
            not (x == y or (isinstance(x, float) and isinstance(y, float)
                            and math.isclose(x, y, rel_tol=float_rel,
                                             abs_tol=1e-9)))
            for x, y in zip(a, b)
        ):
            return f"row {a!r} != expected {b!r}"
    return None
