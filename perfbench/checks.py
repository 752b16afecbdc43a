"""Top-k correctness references.

Kernel-served ops are compared with the same query under
``strategy="dataframe"``, the engine's semantic reference. In-memory
term and boolean ops are compared with the DuckDB BM25 twins in
``__spark_entry__.py`` (``_term_topk_sql`` and
``_multi_term_scores_sql``), which recompute the scores from the raw
text.
"""

from __future__ import annotations

#: scores are compared to this many decimals (the oracle gate uses 6)
TOL = 1e-5


def topk(rows) -> list[tuple[int, float]]:
    return [(int(r["doc_id"]), float(r["score"])) for r in rows]


def same_topk(got, want, tol: float = TOL) -> bool:
    """Equal top-k up to score ties: the sorted score lists agree
    within ``tol``, and so do the doc ids, except among the docs tied
    with the lowest score, where either side may have cut a tie
    differently."""
    if len(got) != len(want):
        return False
    gs = sorted((s for _, s in got), reverse=True)
    ws = sorted((s for _, s in want), reverse=True)
    if any(abs(a - b) > tol for a, b in zip(gs, ws)):
        return False
    if not got:
        return True
    floor = min(gs[-1], ws[-1]) + tol
    return ({d for d, s in got if s > floor}
            == {d for d, s in want if s > floor})


def duckdb_sql(op, k: int) -> str | None:
    """The DuckDB twin of a term / AND / OR op on the ``text`` field,
    or None for shapes without one."""
    from __spark_entry__ import _multi_term_scores_sql, _term_topk_sql

    if op.cls == "term":
        return _term_topk_sql(op.query, k=k)
    if op.cls == "and":
        terms, having = sorted(set(op.query)), len(set(op.query))
    elif op.cls == "or":
        terms, having = sorted(op.query["text"]), 1
    else:
        return None
    return (_multi_term_scores_sql(terms) + f"""
SELECT doc_id, score FROM (
  SELECT doc_id, sum(score ORDER BY term) AS score FROM scores
  GROUP BY doc_id HAVING count(DISTINCT term) >= {having}
  ORDER BY score DESC, doc_id ASC LIMIT {k}
)""")
