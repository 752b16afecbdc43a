"""Block-max WAND top-k over compressed segments.

The scale-path query kernels (north_star: "BM25 top-k retrieval using
block-max WAND posting-list intersection and a bounded min-heap"):

- Term selection prunes at THREE levels before any decode: parquet
  directory pruning on ``bucket=`` (same xxhash64 as the writer),
  row-group min/max skipping on the sorted ``term`` column, and the
  per-block upper bounds below.
- Block upper bounds are computed AT SCAN TIME from each block's
  stored impact frontier (pareto (tf, qdl) pairs — segments.py) with
  the CURRENT corpus stats, as a JVM column expression whose float64
  operation order matches the kernel's numpy scoring exactly, so the
  bound equals the true max block score bit-for-bit for any stats.
  This is what lets delta segments appended after a corpus change keep
  exact pruning (Lucene's impacts model).
- Blocks are co-located by doc range: ``repartitionByRange("chunk")``
  + ``sortWithinPartitions("chunk")`` puts every query term's blocks
  for a doc interval in the same partition IN CHUNK ORDER, so scoring
  is partition-local (one narrow shuffle of compressed blocks, no
  row-level shuffle ever).
- Inside each partition a kernel STREAMS Arrow batches chunk by chunk
  (doc-order traversal): a chunk whose upper bound can't beat the
  bounded min-heap's θ is dropped without decoding; within a surviving
  chunk, per-block upper bounds skip individual blocks, and the
  actually-decoded blocks are scored fully vectorized (numpy varint
  decode + LUT norms). Peak kernel memory is ONE chunk's blocks — not
  the partition — so the per-task footprint is set by chunk_span,
  independent of partition size.
- Partitions emit their local top-k; the driver-side
  ``orderBy(...).limit(k)`` (TakeOrderedAndProject) merges heaps.

ONE boolean kernel serves every boolean-family shape: a term, flat
AND/OR over any mix of fields, min_should_match, fuzzy expansions,
group and arbitrarily nested trees with phrase leaves, and term-like
DisjunctionMaxQuery all compile to a ``(leaves, root)`` spec
(TreeLeaf / PhraseTreeLeaf + TreeNode) executed by ``wand_tree_topk``
— the segment twin of the reference's single BooleanQuery compile.
``wand_topk`` and ``wand_pairs_topk`` are thin wrappers that build a
flat spec (``flat_spec``). Posting streams are keyed by
``fkey = field || '\\x1f' || term`` with their own idf and field
norm-denominator cache, so a map query {title: ..., body: ...} runs in
the same one-pass kernel (chunk = doc range is field-independent). The
positional shapes (phrase, sloppy phrase, span near/first/not/or) have
their own kernels over the same scan.

Scores are computed with the same double-precision formula as the
DataFrame path (bm25.score_col), so the two execution strategies are
result-identical — pinned by tests/test_wand_segments.py.
"""

from __future__ import annotations

import heapq
import math
from typing import Iterator, NamedTuple

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from lucene_clj_spark import bm25, codec
from lucene_clj_spark.errors import ValidationError
from lucene_clj_spark.spans import _sloppy_freq_py, _span_near_ordered_freq

_EMPTY = {"doc_id": "int64", "score": "float64"}


class TreeLeaf(NamedTuple):
    """A term leaf of an ARBITRARY-DEPTH boolean tree. ``weight`` is
    the leaf's own boost times the product of every ancestor node's
    boost (score trees are linear in the leaf scores, so folding the
    boosts down to the leaves is score-preserving up to float
    association). ``scored`` is False when any edge on the root path
    is MUST_NOT — such leaves only ever gate matching (their match
    EXCLUDES docs somewhere up the tree), so they are decoded ids-only
    and never enter score bounds."""

    lid: int
    field: str
    term: str
    weight: float
    scored: bool


class PhraseTreeLeaf(NamedTuple):
    """An exact-adjacency phrase leaf of an arbitrary-depth boolean
    tree — scored in-scan by the tree kernel from the positions
    streams (weight folded into its idf_sum, same association as the
    standalone phrase kernel). ``scored`` False (a MUST_NOT edge on
    the root path) makes it match-only: evaluated for its match set,
    never scored, never in bounds."""

    lid: int
    field: str
    terms: tuple
    weight: float
    scored: bool


class TreeNode(NamedTuple):
    """An inner node of an arbitrary-depth boolean tree. Children are
    either an ``int`` (a TreeLeaf lid) or a nested TreeNode. Lucene
    BooleanQuery semantics: the node matches iff every ``musts`` child
    matches, no ``nots`` child matches, and — when there are no musts
    — at least one ``shoulds`` child matches; its score is the sum of
    the musts' scores plus the matching shoulds' scores (boosts are
    pre-folded into the leaves). A node with neither musts nor shoulds
    (empty or pure-negative) matches nothing.

    ``msm`` (minimumNumberShouldMatch) additionally requires at least
    that many matching ``shoulds`` children. ``tie`` switches the
    score to DisjunctionMaxQuery's ``max + tie * (sum - max)`` over
    the matching shoulds (``max`` alone at tie 0; the node carries no
    musts); ``None`` is the plain boolean sum. Both only ever lower a
    score or drop a match, so the kernel's sum bounds stay sound for
    0 <= tie <= 1."""

    musts: tuple
    shoulds: tuple
    nots: tuple
    msm: int = 0
    tie: float | None = None


def _excluded_ids(index) -> np.ndarray | None:
    """The index's tombstoned doc_ids as a sorted int64 array for the
    kernels' pre-heap mask (None when there are none). Ships in the
    kernel closure — bounded by the purge cadence, same contract as
    Lucene's live-docs bitset (see indexer.delete_documents)."""
    tomb = getattr(index, "tombstones", None)
    if not tomb:
        return None
    return np.array(sorted(tomb), dtype=np.int64)


def _push_topk(
    heap: list,
    k: int,
    uniq: np.ndarray,
    agg: np.ndarray,
    search_after: tuple[float, int] | None = None,
    excluded: np.ndarray | None = None,
) -> None:
    """Push one chunk's candidate ``(doc_id, score)`` arrays into the
    bounded ``(score, -doc_id)`` min-heap — vectorized preselection so
    the Python heap loop runs over at most k items, never the chunk:

    - keyset filter (search_after) as an array mask;
    - when the heap is full, everything strictly below θ is dropped
      wholesale (score == θ survives: it can still win the doc_id
      tiebreak against the current minimum);
    - of the remainder only the chunk's own top-k by
      (score desc, doc_id asc) can possibly enter ANY global top-k —
      an item outside it has k chunk-mates ahead of it in the total
      order — so a lexsort selection bounds the loop at k."""
    if excluded is not None and excluded.size and uniq.size:
        # tombstone mask BEFORE any heap interaction: a deleted doc
        # must neither take a top-k slot nor raise θ (``excluded`` is
        # sorted, so searchsorted beats np.isin's internal sort)
        at = np.searchsorted(excluded, uniq)
        at[at == excluded.size] = 0
        m = excluded[at] != uniq
        uniq, agg = uniq[m], agg[m]
    if search_after is not None:
        sa_s, sa_d = search_after
        m = (agg < sa_s) | ((agg == sa_s) & (uniq > sa_d))
        uniq, agg = uniq[m], agg[m]
    if len(heap) >= k:
        m = agg >= heap[0][0]
        uniq, agg = uniq[m], agg[m]
    if uniq.size > k:
        sel = np.lexsort((uniq, -agg))[:k]
        uniq, agg = uniq[sel], agg[sel]
    for d, s in zip(uniq.tolist(), agg.tolist()):
        item = (s, -d)
        if len(heap) < k:
            heapq.heappush(heap, item)
        elif item > heap[0]:
            heapq.heapreplace(heap, item)


def tree_possible(node, present) -> bool:
    """Can ``node`` match ANY doc given the set of present leaf lids?
    MUST_NOT children are ignored: an absent exclusion just never
    fires, it cannot make a node unmatchable."""
    if isinstance(node, int):
        return node in present
    if not all(tree_possible(m, present) for m in node.musts):
        return False
    need = node.msm or (0 if node.musts else 1)
    return sum(tree_possible(s, present) for s in node.shoulds) >= need


def _heap_frame(heap) -> pd.DataFrame:
    return pd.DataFrame(
        {
            "doc_id": [-nd for s, nd in heap],
            "score": [s for s, nd in heap],
        }
    ).astype(_EMPTY)


def _denom_cache(avgdl: float) -> np.ndarray:
    """norm byte -> k1*(1-b+b*qdl/avgdl), like BM25Scorer's cache."""
    return bm25.K1 * (
        (1.0 - bm25.B)
        + bm25.B * bm25.LENGTH_TABLE.astype(np.float64) / avgdl
    )


def _stream_chunks(batches: Iterator[pd.DataFrame], process) -> None:
    """Drive ``process(chunk_pdf)`` over the partition's batches one
    chunk at a time. The scan is sorted by chunk within the partition,
    so a chunk is complete when the key changes — peak memory is one
    chunk's blocks, never the whole partition."""
    cur = None
    buf: list[pd.DataFrame] = []
    for b in batches:
        if len(b) == 0:
            continue
        for chunk, grp in b.groupby("chunk", sort=True):
            if cur is not None and chunk != cur:
                process(pd.concat(buf, ignore_index=True)
                        if len(buf) > 1 else buf[0])
                buf = []
            cur = chunk
            buf.append(grp)
    if buf:
        process(pd.concat(buf, ignore_index=True)
                if len(buf) > 1 else buf[0])


def _segment_scan(index, pairs: list[tuple[str, str]],
                  weights: dict | None = None,
                  unbounded_keys: set | None = None,
                  idfs_only: bool = False):
    """Shared driver preamble for the segment kernels: validate the
    segments dir + format, resolve per-(field, term) idfs (one tiny
    terms-table action), resolve bucket literals (one tiny JVM eval of
    the writer's xxhash64), and return the bucket/term-filtered blocks
    scan with a scan-time ``block_max_score`` column computed from each
    block's impact frontier and the CURRENT stats — float64 operation
    order matched to the kernel's numpy scoring, so the bound is the
    exact max block score.

    ``weights`` maps (field, term) -> boost (1.0 default), folded into
    the scan-time block bound only (span_or_topk's bound weights).

    Returns (key_idfs, blocks); keys are ``field + '\\x1f' + term``,
    key_idfs the unweighted idfs. Absent terms are missing from
    key_idfs; blocks is None if no term is present. ``unbounded_keys``
    marks fkeys whose block bound is never consulted (MUST_NOT
    exclusion keys): their bound column is a constant instead of the
    per-block impacts fold."""
    import os

    from lucene_clj_spark.segments import (
        SEGMENT_FORMAT,
        missing_buckets,
        seg_dir,
        segments_meta,
    )

    root = index.path
    if not root or not os.path.isfile(
        os.path.join(root, "manifests", "_segments_meta.json")
    ):
        raise ValueError(
            "segment kernels need a disk index with built segments "
            "(run segments.build_segments first)"
        )
    meta = segments_meta(root)
    if meta.get("format") != SEGMENT_FORMAT:
        raise ValidationError(
            f"segments at {root} use format {meta.get('format')}; this "
            f"engine reads format {SEGMENT_FORMAT} — rebuild with "
            "build_segments(resume=False)",
            {"path": root},
        )
    if not os.path.isdir(seg_dir(root, meta)):
        raise ValueError(
            "segment kernels need a disk index with built segments "
            "(run segments.build_segments first)"
        )
    nb = meta["n_buckets"]
    missing = missing_buckets(root, meta)
    if missing:
        raise ValidationError(
            f"segments at {root} are INCOMPLETE (buckets {missing} have "
            "no manifest — the build was interrupted); serving them "
            "would silently drop those buckets' postings. Re-run "
            "build_segments(resume=True) to finish the build",
            {"path": root, "missing_buckets": missing},
        )
    weights = weights or {}
    uniq = sorted(set(pairs))
    by_field: dict[str, list[str]] = {}
    for f_, t_ in uniq:
        by_field.setdefault(f_, []).append(t_)
    # idf per (field, term) is memoized on the Index (absent terms as
    # None) — the Lucene-reader TermStates analogue the DataFrame path
    # already has (_lookup_term_stats): a warm repeated query needs NO
    # driver-side stats action, only the scoring job. Invalidated at
    # the same sites as _term_stats_cache (add_documents, truncate);
    # stats are frozen per Index object, so the cache can't go stale
    # ahead of the stats dict it derives from.
    idf_cache = getattr(index, "_seg_term_cache", None)
    if idf_cache is None:
        idf_cache = {}
        index._seg_term_cache = idf_cache
    missing = [fk for fk in uniq if fk not in idf_cache]
    if missing:
        m_by_field: dict[str, list[str]] = {}
        for f_, t_ in missing:
            m_by_field.setdefault(f_, []).append(t_)
        cond = None
        for f_, ts in m_by_field.items():
            c = (F.col("field") == f_) & F.col("term").isin(ts)
            cond = c if cond is None else (cond | c)
        # idf computed JVM-side (bm25.idf_col) so the kernel's Python
        # map is BIT-IDENTICAL to the DataFrame path's literals — libm
        # log and java.lang.Math.log differ by 1 ULP on some inputs,
        # which would break the result-identical-strategies contract
        # on tie-ish scores
        n_map = F.create_map(
            *[
                F.lit(x)
                for f_ in m_by_field
                for x in (f_, float(int(index.field_stats(f_)["N"])))
            ]
        )
        df_rows = (
            index.terms.filter(cond)
            .select(
                "field", "term",
                bm25.idf_col(
                    F.col("df"), n_map[F.col("field")]
                ).alias("idf"),
            )
            .collect()
        )
        found = {(r["field"], r["term"]): float(r["idf"])
                 for r in df_rows}
        for fk in missing:
            idf_cache[fk] = found.get(fk)
    key_idfs, key_ws = {}, {}
    for fk in uniq:
        idf = idf_cache.get(fk)
        if idf is None:
            continue
        fkey_s = f"{fk[0]}\x1f{fk[1]}"
        key_idfs[fkey_s] = idf
        key_ws[fkey_s] = float(weights.get(fk, 1.0))
    if not key_idfs or idfs_only:
        # idfs_only: the caller needs the (memoized) idf resolution to
        # derive bound weights before the real scan — skip bucket
        # resolution and the blocks plan (span_or_topk's first pass)
        return key_idfs, None
    present_terms = sorted(
        {k.split("\x1f", 1)[1] for k in key_idfs}
    )
    # per-term bucket memoized the same way (keyed by layout width nb)
    b_cache = getattr(index, "_seg_bucket_cache", None)
    if b_cache is None:
        b_cache = {}
        index._seg_bucket_cache = b_cache
    b_missing = [t for t in present_terms if (t, nb) not in b_cache]
    if b_missing:
        bucket_row = (
            index.spark.range(1)
            .select(
                *[
                    F.pmod(F.xxhash64(F.lit(t)), F.lit(nb)).alias(f"b{i}")
                    for i, t in enumerate(b_missing)
                ]
            )
            .collect()[0]
        )
        for t, v in zip(b_missing, bucket_row):
            b_cache[(t, nb)] = int(v)
    query_buckets = sorted({b_cache[(t, nb)] for t in present_terms})
    cond2 = None
    for f_, ts in by_field.items():
        keep = [t for t in ts if f"{f_}\x1f{t}" in key_idfs]
        if not keep:
            continue
        c = (F.col("field") == f_) & F.col("term").isin(keep)
        cond2 = c if cond2 is None else (cond2 | c)
    idf_map = F.create_map(
        *[F.lit(x) for kv in key_idfs.items() for x in kv]
    )
    w_map = F.create_map(
        *[F.lit(x) for kv in key_ws.items() for x in kv]
    )
    avg_map = F.create_map(
        *[
            F.lit(x)
            for f_ in by_field
            for x in (f_, float(index.field_stats(f_)["avgdl"]))
        ]
    )
    fkey = F.concat(F.col("field"), F.lit("\x1f"), F.col("term"))
    bound_gate = None
    if unbounded_keys:
        bound_gate = ~F.col("fkey").isin(sorted(unbounded_keys))
    blocks = (
        index.spark.read.parquet(seg_dir(root, meta))
        .filter(F.col("bucket").isin(query_buckets))
        .filter(cond2)
        .withColumn("fkey", fkey)
        .withColumn("__idf", idf_map[F.col("fkey")])
        .withColumn("__w", w_map[F.col("fkey")])
        .withColumn("__avgdl", avg_map[F.col("field")])
        .withColumn(
            "block_max_score",
            _gated(
                bound_gate,
                F.array_max(
                    F.transform(
                        "impacts",
                        # w * ((idf*tf) / (tf + K1*((1-B) + (B*qdl)/avgdl)))
                        # — EXACTLY the association of both the kernel's
                        # numpy scoring and the DataFrame path's
                        # ``boost * score_col`` (weight applied LAST), so
                        # the bound equals the true max block score
                        # bit-for-bit and all three agree under boosts
                        lambda im: F.col("__w")
                        * (
                            (F.col("__idf") * im["tf"])
                            / (
                                im["tf"]
                                + F.lit(bm25.K1)
                                * (
                                    F.lit(1.0 - bm25.B)
                                    + F.lit(bm25.B) * im["qdl"]
                                    / F.col("__avgdl")
                                )
                            )
                        ),
                    )
                ),
            ),
        )
    )
    return key_idfs, blocks


def _gated(gate, expr):
    """Gate an expensive per-row expression behind a predicate (0.0
    when the predicate is false) — used to skip the impacts fold for
    exclusion-only keys whose bound is never consulted."""
    if gate is None:
        return expr
    return F.when(gate, expr).otherwise(F.lit(0.0))


def _key_denoms(index, key_idfs: dict) -> dict:
    """fkey -> the field's norm-denominator cache (shared per field)."""
    per_field: dict[str, np.ndarray] = {}
    out = {}
    for key in key_idfs:
        f_ = key.split("\x1f", 1)[0]
        if f_ not in per_field:
            per_field[f_] = _denom_cache(
                float(index.field_stats(f_)["avgdl"])
            )
        out[key] = per_field[f_]
    return out


def _phrase_spec(index, le: PhraseTreeLeaf, p_idfs: dict) -> dict:
    """A phrase leaf's spec for the tree kernel: offset map (repeated
    terms fold into one stream with several offsets), constituent
    idfs, the weighted idf_sum (weight folded with the standalone
    phrase kernel's association), the field's norm-denominator cache
    and the leaf's identity (lid, scored)."""
    field, terms, weight = le.field, le.terms, le.weight
    offsets: dict[str, list[int]] = {}
    for i, t_ in enumerate(terms):
        offsets.setdefault(t_, []).append(i)
    t_idfs = {t_: p_idfs[f"{field}\x1f{t_}"] for t_ in offsets}
    idf_sum = sum(t_idfs[t_] * len(offs) for t_, offs in offsets.items())
    if weight != 1.0:
        idf_sum = weight * idf_sum
    return {
        "offsets": offsets,
        "term_idfs": t_idfs,
        "fkey_term": {f"{field}\x1f{t_}": t_ for t_ in offsets},
        "fkeys": {f"{field}\x1f{t_}" for t_ in offsets},
        "idf_sum": idf_sum,
        "denom": _denom_cache(float(index.field_stats(field)["avgdl"])),
        "lid": le.lid,
        "scored": le.scored,
    }


def _phrase_chunk_bound(p: dict, rows: pd.DataFrame) -> float:
    """Upper bound of one phrase's score within a chunk, derived from
    its constituents' block maxima:
    ``idf_sum * min_t(chunk_max_t / idf_t)`` — valid because the
    phrase freq is <= every member tf and x/(x+d) is increasing."""
    tmax = rows.groupby("fkey")["block_max_score"].max()
    return p["idf_sum"] * min(
        float(tmax[fk]) / p["term_idfs"][p["fkey_term"][fk]]
        for fk in p["fkeys"]
    )


def _co_located(blocks: DataFrame, cols: list[str],
                n_partitions: int) -> DataFrame:
    """Chunk-range co-location + in-partition chunk order (the contract
    _stream_chunks relies on), with the kernel's input pruned to the
    columns it decodes — positions stay out of the WAND scan."""
    return (
        blocks.select(*cols)
        .repartitionByRange(n_partitions, "chunk")
        .sortWithinPartitions("chunk")
    )


def _index_chunk_terms(rows: pd.DataFrame, key_term: dict,
                       key_col: str = "fkey") -> dict:
    """Phase 1 of every positions kernel: decode ONLY doc ids (cheap)
    per term of one chunk; positions stay as raw varint buffers until
    a block is known to hold a candidate — positions are the bulk of
    segment bytes, so the lazy decode skips most of a frequent term's
    blocks. Delta-appended blocks may INTERLEAVE doc ranges with base
    blocks, so lookups go through a global argsort of the chunk's ids,
    not block-first_doc bisection. Returns term ->
    ``(sorted_ids, blocks, block_of, posting_in_block)``."""
    per_term: dict = {}
    for keyv, grp in rows.groupby(key_col):
        t = key_term[keyv]
        blocks = []
        for row in grp.itertuples(index=False):
            ids = codec.delta_decode(codec.decode_block(row.doc_deltas))
            blocks.append(
                {
                    "ids": ids,
                    "tfs_buf": row.tfs,
                    "norms": row.norms,
                    "pos_buf": row.positions,
                    "flat": None,  # decoded lazily
                }
            )
        counts = [len(b["ids"]) for b in blocks]
        all_ids = np.concatenate([b["ids"] for b in blocks])
        order = np.argsort(all_ids, kind="mergesort")
        per_term[t] = (
            all_ids[order],
            blocks,
            np.repeat(np.arange(len(blocks)), counts)[order],
            np.concatenate(
                [np.arange(c, dtype=np.int64) for c in counts]
            )[order],
        )
    return per_term


def _gather_positions_for(entry, cands: np.ndarray,
                          norms_out: np.ndarray | None = None):
    """Chunk-vectorized position gather for ONE term (phase 2 core):
    every candidate's position run is pulled from the flat decoded
    stream with one multi-segment fancy-index per TOUCHED block —
    untouched blocks never decode their positions. Candidates absent
    from the term's postings contribute nothing (presence mask; the
    phrase kernel's intersection pre-guarantees presence, span-not's
    exclude term does not). Returns ``(pos_all, cidx_all)`` where
    ``cidx_all`` indexes into ``cands``; each candidate's positions
    form one contiguous ascending run (a doc's postings live in one
    block and the delta stream cumsums ascending). ``norms_out``, when
    given, receives the doc's norm byte at each present candidate's
    slot."""
    sorted_ids, blocks, blk_of, pos_in = entry
    at = np.searchsorted(sorted_ids, cands)
    at_c = np.minimum(at, sorted_ids.size - 1)
    present = (at < sorted_ids.size) & (sorted_ids[at_c] == cands)
    pidx = np.flatnonzero(present)
    if pidx.size == 0:
        z = np.zeros(0, dtype=np.int64)
        return z, z
    at = at[pidx]
    blkc = blk_of[at]
    jc = pos_in[at]
    # decode each TOUCHED block once; untouched blocks never decode
    order = np.argsort(blkc, kind="stable")
    bounds = np.flatnonzero(np.diff(blkc[order])) + 1
    pos_parts, cidx_parts = [], []
    for grp_idx in np.split(order, bounds):
        b = blocks[int(blkc[grp_idx[0]])]
        if b["flat"] is None:
            tfs_b = codec.decode_block(b["tfs_buf"]).astype(np.int64)
            b["tfs_a"] = tfs_b
            b["flat"], b["p_starts"] = codec.decode_positions_flat(
                b["pos_buf"], tfs_b
            )
            b["norms_a"] = np.frombuffer(b["norms"], dtype=np.uint8)
        js = jc[grp_idx]
        seg_lens = b["tfs_a"][js]
        seg_starts = b["p_starts"][js]
        total = int(seg_lens.sum())
        # multi-segment gather: flat[starts[j] : starts[j]+lens[j]]
        # for all j at once
        gather = (
            np.repeat(
                seg_starts
                - np.concatenate(([0], np.cumsum(seg_lens)[:-1])),
                seg_lens,
            )
            + np.arange(total, dtype=np.int64)
        )
        pos_parts.append(b["flat"][gather])
        cidx_parts.append(np.repeat(pidx[grp_idx], seg_lens))
        if norms_out is not None:
            norms_out[pidx[grp_idx]] = b["norms_a"][js]
    return np.concatenate(pos_parts), np.concatenate(cidx_parts)


def _eval_phrase_chunk(
    rows: pd.DataFrame,
    key_term: dict,
    offsets: dict,
    idf_sum: float,
    denom_cache: np.ndarray,
    key_col: str = "fkey",
    score: bool = True,
):
    """Evaluate ONE exact-adjacency phrase over one chunk's block rows
    (caller guarantees every constituent key is present in ``rows``).

    Phase 1 decodes ONLY doc ids (cheap) per term; positions stay as
    raw varint buffers until a block is known to hold a candidate —
    positions are the bulk of segment bytes, so the lazy decode skips
    most of the frequent term's blocks. Delta-appended blocks may
    INTERLEAVE doc ranges with base blocks, so lookups go through a
    global argsort of the chunk's ids, not block-first_doc bisection.

    Phase 2 is CHUNK-VECTORIZED (no per-candidate Python loop): for
    each term, every candidate's position run is gathered from the
    flat decoded stream with one multi-segment fancy-index per touched
    block, tagged ``cand_index * 2^32 + position + L`` (L = max phrase
    offset, so shifted keys never cross candidate boundaries), and the
    phrase match is ONE ``np.intersect1d`` per (term, offset) over the
    whole chunk; per-doc phrase freqs fall out of a bincount on the
    surviving keys' high bits. Scores stay bit-identical to the scalar
    form: ``idf_sum * freq / (freq + denom[norm])`` in float64.

    Returns ``(doc_ids, scores)`` numpy arrays for docs with phrase
    freq > 0; ``scores`` is None when ``score=False`` (exclusion-only
    phrases need the match set, not BM25). ``key_term`` maps the
    ``key_col`` value to the phrase term it carries."""
    per_term = _index_chunk_terms(rows, key_term, key_col)
    cands = None
    for t in sorted(per_term, key=lambda t: per_term[t][0].size):
        cands = (
            per_term[t][0]
            if cands is None
            else np.intersect1d(cands, per_term[t][0], assume_unique=True)
        )
    if cands is None or cands.size == 0:
        return np.zeros(0, dtype=np.int64), (
            np.zeros(0, dtype=np.float64) if score else None
        )

    n_c = cands.size
    # key bias: pos + L - off >= 0 for every phrase offset, so a
    # shifted key can never spill into the previous candidate's range
    # (positions are doc-token indexes, far below 2^32 - L)
    L = max(off for offs in offsets.values() for off in offs)
    inter = None
    norms_c = np.empty(n_c, dtype=np.uint8)
    first_term = True
    for t, offs in offsets.items():
        # the norm byte is the DOC's field norm — identical across the
        # phrase's terms, so gather it once (first term only)
        pos_all, cidx_all = _gather_positions_for(
            per_term[t], cands,
            norms_out=norms_c if first_term else None,
        )
        first_term = False
        if pos_all.size and int(pos_all.max()) + L >= (1 << 32):
            # the packed (cidx << 32 | pos+L-off) key would spill into
            # the next candidate's range and silently corrupt matches
            # (ADVICE r03). Unreachable for real documents (a 4-billion-
            # token doc), so fail loud rather than widen the shift.
            raise ValueError(
                "phrase kernel: token position "
                f"{int(pos_all.max())} + {L} exceeds the 2^32 packed-key "
                "range; document too long for packed phrase matching"
            )
        keys = (cidx_all << np.int64(32)) + (pos_all + np.int64(L))
        for off in offs:
            cand_keys = keys - np.int64(off)
            inter = (
                cand_keys
                if inter is None
                else np.intersect1d(inter, cand_keys, assume_unique=True)
            )
            if inter.size == 0:
                break
        if inter is not None and inter.size == 0:
            break
    if inter is None or inter.size == 0:
        return np.zeros(0, dtype=np.int64), (
            np.zeros(0, dtype=np.float64) if score else None
        )
    freq = np.bincount(
        (inter >> np.int64(32)).astype(np.int64), minlength=n_c
    )
    matched = freq > 0
    ids_a = cands[matched]
    if not score:
        return ids_a, None
    fr = freq[matched].astype(np.float64)
    scores = idf_sum * fr / (fr + denom_cache[norms_c[matched]])
    return ids_a, scores


def _make_phrase_kernel(
    offsets: dict, term_idfs: dict, idf_sum: float, avgdl: float, k: int,
    search_after: tuple[float, int] | None = None,
    excluded: np.ndarray | None = None,
):
    """Per-partition exact-adjacency phrase kernel over compressed
    segments, streaming chunk by chunk. ``offsets`` maps term -> list
    of phrase offsets (handles duplicate terms). Chunk-level skipping
    uses the derived bound
    phrase_score <= idf_sum * min_t(chunk_max_block_score_t / idf_t)
    (valid because phrase freq <= every member tf and x/(x+d) is
    increasing in x)."""
    uniq_terms = list(offsets)
    ident = {t: t for t in uniq_terms}

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        denom_cache = _denom_cache(avgdl)
        heap: list[tuple[float, int]] = []

        def theta() -> float:
            return heap[0][0] if len(heap) >= k else -math.inf

        def process(cpdf: pd.DataFrame) -> None:
            tmax = cpdf.groupby("term")["block_max_score"].max()
            # chunks missing any phrase term can't match at all
            if not all(t in tmax.index for t in uniq_terms):
                return
            upper = idf_sum * min(
                float(tmax[t]) / term_idfs[t] for t in uniq_terms
            )
            if len(heap) >= k and upper < theta():
                return
            ids_a, sc_a = _eval_phrase_chunk(
                cpdf, ident, offsets, idf_sum, denom_cache, key_col="term"
            )
            _push_topk(heap, k, ids_a, sc_a, search_after, excluded)

        _stream_chunks(batches, process)
        yield _heap_frame(heap)

    return kernel


def phrase_topk(
    index,
    field: str,
    terms: list[str],
    k: int = 10,
    n_partitions: int | None = None,
    search_after: tuple[float, int] | None = None,
    weight: float = 1.0,
) -> DataFrame:
    """Exact-adjacency (slop 0) phrase top-k over the compressed
    segments — positions decode from the varint stream inside the
    kernel, so a phrase never shuffles raw postings. Result-identical
    to the DataFrame ``_scored_phrase`` path (PhraseQuery weight:
    idf_sum with per-occurrence counts, shared phrase freq, quantized
    norms). A positive ``weight`` (query boost) folds into idf_sum —
    ``(boost * idf_sum) * freq / denom`` is exactly the DataFrame
    path's association, and the chunk bound scales linearly, so
    pruning stays exact."""
    if weight <= 0:
        raise ValueError("phrase kernel weight must be positive "
                         "(non-positive weights invert the skip bounds)")
    offsets: dict[str, list[int]] = {}
    for i, t in enumerate(terms):
        offsets.setdefault(t, []).append(i)
    key_idfs, blocks = _segment_scan(
        index, [(field, t) for t in offsets]
    )
    if blocks is None or len(key_idfs) < len(offsets):
        # a phrase term absent from the dictionary -> no match
        return index.spark.createDataFrame([], "doc_id long, score double")
    term_idfs = {
        key.split("\x1f", 1)[1]: idf for key, idf in key_idfs.items()
    }
    idf_sum = sum(term_idfs[t] * len(offs) for t, offs in offsets.items())
    if weight != 1.0:
        idf_sum = weight * idf_sum
    avgdl = float(index.field_stats(field)["avgdl"])

    npart = n_partitions or index.spark.sparkContext.defaultParallelism
    co = _co_located(
        blocks,
        ["chunk", "term", "block_max_score", "doc_deltas", "tfs",
         "norms", "positions"],
        npart,
    )
    kernel = _make_phrase_kernel(offsets, term_idfs, idf_sum, avgdl, k,
                                 search_after=search_after,
                                 excluded=_excluded_ids(index))
    local = co.mapInPandas(kernel, "doc_id long, score double")
    return local.orderBy(F.desc("score"), F.asc("doc_id")).limit(k)


def _eval_span_near_chunk(
    rows: pd.DataFrame,
    terms: list[str],
    slop: int,
    in_order: bool,
    w_idf_sum: float,
    denom_cache: np.ndarray,
    key_col: str = "term",
    phrase_shift: bool = False,
):
    """Evaluate one span-near query over one chunk's block rows
    (caller guarantees every clause term is present in ``rows``).
    Same lazy two-phase shape as ``_eval_phrase_chunk``: doc ids
    decode first, candidates = the conjunction of the clause postings,
    positions decode only for touched blocks. The per-candidate
    matcher is the SAME function the DataFrame pandas UDF runs
    (``_span_near_ordered_freq`` / ``_sloppy_freq_py`` with the span
    bias), over the gathered ascending position runs — scores stay
    bit-identical to search._scored_span_near. Candidates are bounded
    by the rarest clause's df within the chunk.

    ``phrase_shift=True`` switches the matcher to SLOPPY-PHRASE
    semantics (search._scored_sloppy_phrase): each clause's positions
    are offset-adjusted by its phrase slot (``pos - slot``, exactly
    the DataFrame path's ``_shift(i)`` transform) and the greedy runs
    with ``bias=0`` — phrase slop arithmetic instead of the span
    covering-interval form. ``in_order`` is ignored in that mode."""
    per_term = _index_chunk_terms(rows, {t: t for t in terms}, key_col)
    cands = None
    for t in sorted(terms, key=lambda t: per_term[t][0].size):
        ids = per_term[t][0]
        cands = (
            ids if cands is None
            else np.intersect1d(cands, ids, assume_unique=True)
        )
        if cands.size == 0:
            return np.zeros(0, dtype=np.int64), np.zeros(0)
    n_c = cands.size
    norms_c = np.empty(n_c, dtype=np.uint8)
    # per clause (IN CLAUSE ORDER — ordered matching is asymmetric):
    # one gathered flat stream + per-candidate run boundaries
    runs = []
    grid = np.arange(n_c, dtype=np.int64)
    for ti, t in enumerate(terms):
        pos_all, cidx_all = _gather_positions_for(
            per_term[t], cands,
            norms_out=norms_c if ti == 0 else None,
        )
        order = np.argsort(cidx_all, kind="stable")
        pos_s = pos_all[order]
        if phrase_shift and ti:
            # phrase-offset normalization (pos - slot): a constant
            # per-clause shift, so each candidate's run stays sorted
            pos_s = pos_s - ti
        cidx_s = cidx_all[order]
        starts = np.searchsorted(cidx_s, grid)
        ends = np.searchsorted(cidx_s, grid + 1)
        runs.append((pos_s, starts, ends))
    bias = len(terms) - 1
    freq = np.zeros(n_c, dtype=np.float64)
    for c in range(n_c):
        pls = [ps[st[c]:en[c]] for ps, st, en in runs]
        if phrase_shift:
            freq[c] = _sloppy_freq_py(pls, slop)
        elif in_order:
            freq[c] = _span_near_ordered_freq(pls, slop)
        else:
            freq[c] = _sloppy_freq_py(pls, slop, bias=bias)
    matched = freq > 0
    ids_a = cands[matched]
    fr = freq[matched]
    scores = w_idf_sum * fr / (fr + denom_cache[norms_c[matched]])
    return ids_a, scores


def span_near_topk(
    index,
    field: str,
    terms: list[str],
    slop: int = 0,
    in_order: bool = True,
    k: int = 10,
    n_partitions: int | None = None,
    search_after: tuple[float, int] | None = None,
    weight: float = 1.0,
) -> DataFrame:
    """SpanNearQuery top-k over the compressed segments (positions
    decode inside the kernel — a span query never shuffles raw
    postings). Result-identical to the DataFrame _scored_span_near
    path: identical matcher functions, idf_sum accumulated in clause
    order, the same float64 association.

    Chunk-level skip bounds (block-max): a span match contributes
    ``1/(1+matchSlop) <= 1`` per enumerated match, so
    - ordered:   freq <= tf(first clause)  (one match per anchor), so
      ``score <= w_idf_sum * chunk_max_first / idf_first``;
    - unordered: the greedy advances one clause position per counted
      match, so ``freq <= sum_t tf_t``, and BM25's tf saturation
      ``f(x) = x/(x+d)`` is concave with f(0)=0 hence subadditive:
      ``score <= w_idf_sum * sum_t(chunk_max_t / idf_t)``.
    Both are also < w_idf_sum (f < 1). Bounds are inflated by 1e-12
    relative so float rounding in the ``chunk_max/idf`` fold can never
    prune a true top-k doc (same insurance as span_or_topk). Chunks
    missing ANY clause term are skipped without decoding — the
    conjunction semantics make this the dominant pruning at scale."""
    terms = list(terms)
    if len(set(terms)) != len(terms):
        raise ValidationError(
            "span_near with repeated terms is not supported (the "
            "repeat-group matcher variant); use distinct terms",
            {"terms": terms},
        )
    if weight <= 0:
        raise ValueError("span_near kernel weight must be positive "
                         "(non-positive weights invert the skip bounds)")
    pairs = [(field, t) for t in terms]
    key_idfs, blocks = _segment_scan(index, pairs)
    if blocks is None or len(key_idfs) < len(terms):
        # any clause term absent from the dictionary -> no match
        return index.spark.createDataFrame([], "doc_id long, score double")
    term_idfs = {t: key_idfs[f"{field}\x1f{t}"] for t in terms}
    # idf_sum accumulated in ORIGINAL clause order — float addition is
    # order-sensitive and the DataFrame path folds its idf literals in
    # clause order; matching it keeps scores bit-equal
    idf_sum = 0.0
    for t in terms:
        idf_sum += term_idfs[t]
    w_idf_sum = float(weight) * idf_sum if weight != 1.0 else idf_sum
    avgdl = float(index.field_stats(field)["avgdl"])
    slop_i, in_o = int(slop), bool(in_order)
    first_t = terms[0]
    excluded = _excluded_ids(index)

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        denom_cache = _denom_cache(avgdl)
        heap: list[tuple[float, int]] = []

        def theta() -> float:
            return heap[0][0] if len(heap) >= k else -math.inf

        def process(cpdf: pd.DataFrame) -> None:
            tmax = cpdf.groupby("term")["block_max_score"].max()
            # chunks missing any clause term can't match at all
            if not all(t in tmax.index for t in terms):
                return
            if in_o:
                ratio = float(tmax[first_t]) / term_idfs[first_t]
            else:
                ratio = sum(
                    float(tmax[t]) / term_idfs[t] for t in terms
                )
            upper = w_idf_sum * min(1.0, ratio) * (1.0 + 1e-12)
            if len(heap) >= k and upper < theta():
                return
            ids_a, sc_a = _eval_span_near_chunk(
                cpdf, terms, slop_i, in_o, w_idf_sum, denom_cache
            )
            _push_topk(heap, k, ids_a, sc_a, search_after, excluded)

        _stream_chunks(batches, process)
        yield _heap_frame(heap)

    npart = n_partitions or index.spark.sparkContext.defaultParallelism
    co = _co_located(
        blocks,
        ["chunk", "term", "block_max_score", "doc_deltas", "tfs",
         "norms", "positions"],
        npart,
    )
    local = co.mapInPandas(kernel, "doc_id long, score double")
    return local.orderBy(F.desc("score"), F.asc("doc_id")).limit(k)


def sloppy_phrase_topk(
    index,
    field: str,
    terms: list[str],
    slop: int,
    k: int = 10,
    n_partitions: int | None = None,
    search_after: tuple[float, int] | None = None,
    weight: float = 1.0,
) -> DataFrame:
    """Sloppy phrase (``"a b"~N``) top-k over the compressed segments
    — the last scored query shape that previously lived on the
    DataFrame path only. Result-identical to
    search._scored_sloppy_phrase: the SAME greedy
    (spans._sloppy_freq_py, bias=0) runs over the same offset-adjusted
    (``pos - slot``) ascending position runs, idf_sum folds in phrase
    slot order, and the BM25 denominator comes from the shared norm
    cache — scores stay bit-equal.

    Chunk-level skip bound: the greedy advances one position of one
    clause per counted match and each match contributes
    ``1/(1+matchLength) <= 1``, so ``freq <= sum_t tf_t``; BM25's tf
    saturation ``f(x) = x/(x+d)`` is concave with f(0)=0 hence
    subadditive, so ``score <= w_idf_sum * sum_t(chunk_max_t/idf_t)``
    and also < w_idf_sum (f < 1) — the same bound family as unordered
    span-near. Inflated by 1e-12 relative so float rounding in the
    ``chunk_max/idf`` fold can never prune a true top-k doc. Chunks
    missing ANY phrase term skip without decoding (conjunction
    semantics — the dominant pruning at scale)."""
    terms = list(terms)
    if len(set(terms)) != len(terms):
        raise ValidationError(
            "sloppy phrases with repeated terms are not supported "
            "(Lucene's repeat-group matcher variant); use slop=0 or "
            "distinct terms",
            {"terms": terms, "slop": slop},
        )
    if weight <= 0:
        raise ValueError("sloppy-phrase kernel weight must be positive "
                         "(non-positive weights invert the skip bounds)")
    pairs = [(field, t) for t in terms]
    key_idfs, blocks = _segment_scan(index, pairs)
    if blocks is None or len(key_idfs) < len(terms):
        # any phrase term absent from the dictionary -> no match
        return index.spark.createDataFrame([], "doc_id long, score double")
    term_idfs = {t: key_idfs[f"{field}\x1f{t}"] for t in terms}
    # idf_sum accumulated in PHRASE SLOT order — the DataFrame path
    # folds its idf literals left-associatively in slot order and
    # float addition is order-sensitive; matching keeps scores
    # bit-equal
    idf_sum = 0.0
    for t in terms:
        idf_sum += term_idfs[t]
    w_idf_sum = float(weight) * idf_sum if weight != 1.0 else idf_sum
    avgdl = float(index.field_stats(field)["avgdl"])
    slop_i = int(slop)
    excluded = _excluded_ids(index)

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        denom_cache = _denom_cache(avgdl)
        heap: list[tuple[float, int]] = []

        def theta() -> float:
            return heap[0][0] if len(heap) >= k else -math.inf

        def process(cpdf: pd.DataFrame) -> None:
            tmax = cpdf.groupby("term")["block_max_score"].max()
            # chunks missing any phrase term can't match at all
            if not all(t in tmax.index for t in terms):
                return
            ratio = sum(
                float(tmax[t]) / term_idfs[t] for t in terms
            )
            upper = w_idf_sum * min(1.0, ratio) * (1.0 + 1e-12)
            if len(heap) >= k and upper < theta():
                return
            ids_a, sc_a = _eval_span_near_chunk(
                cpdf, terms, slop_i, False, w_idf_sum, denom_cache,
                phrase_shift=True,
            )
            _push_topk(heap, k, ids_a, sc_a, search_after, excluded)

        _stream_chunks(batches, process)
        yield _heap_frame(heap)

    npart = n_partitions or index.spark.sparkContext.defaultParallelism
    co = _co_located(
        blocks,
        ["chunk", "term", "block_max_score", "doc_deltas", "tfs",
         "norms", "positions"],
        npart,
    )
    local = co.mapInPandas(kernel, "doc_id long, score double")
    return local.orderBy(F.desc("score"), F.asc("doc_id")).limit(k)


def span_first_topk(
    index,
    field: str,
    term: str,
    end: int,
    k: int = 10,
    n_partitions: int | None = None,
    search_after: tuple[float, int] | None = None,
    weight: float = 1.0,
) -> DataFrame:
    """SpanFirstQuery(SpanTermQuery, end) top-k over the compressed
    segments: freq = the count of the term's positions < ``end``
    (Lucene keeps spans with span.end() <= end; a width-1 span at p
    ends at p+1), BM25 over that freq with the term's FULL df —
    result-identical to search._scored_span_first. Skipping is
    BLOCK-level (finer than the phrase kernels' chunk level — the
    query is single-term, so each block prunes independently):
    freq <= tf gives ``score <= weight * block_max_score``; positions
    decode only for blocks that beat the current θ."""
    if weight <= 0:
        raise ValueError("span_first kernel weight must be positive "
                         "(non-positive weights invert the skip bounds)")
    key_idfs, blocks = _segment_scan(index, [(field, term)])
    if blocks is None or not key_idfs or end <= 0:
        return index.spark.createDataFrame([], "doc_id long, score double")
    idf = key_idfs[f"{field}\x1f{term}"]
    w_idf = float(weight) * idf if weight != 1.0 else idf
    avgdl = float(index.field_stats(field)["avgdl"])
    end_i = int(end)
    wf = float(weight)
    excluded = _excluded_ids(index)

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        denom_cache = _denom_cache(avgdl)
        heap: list[tuple[float, int]] = []

        def theta() -> float:
            return heap[0][0] if len(heap) >= k else -math.inf

        def process(cpdf: pd.DataFrame) -> None:
            for row in cpdf.itertuples(index=False):
                upper = wf * float(row.block_max_score) * (1.0 + 1e-12)
                if len(heap) >= k and upper < theta():
                    continue
                ids = codec.delta_decode(
                    codec.decode_block(row.doc_deltas)
                )
                tfs = codec.decode_block(row.tfs).astype(np.int64)
                flat, _starts = codec.decode_positions_flat(
                    row.positions, tfs
                )
                seg = np.repeat(
                    np.arange(ids.size, dtype=np.int64), tfs
                )
                freq = np.bincount(seg[flat < end_i],
                                   minlength=ids.size)
                m = freq > 0
                if not m.any():
                    continue
                fr = freq[m].astype(np.float64)
                norms = np.frombuffer(row.norms, dtype=np.uint8)[m]
                sc = w_idf * fr / (fr + denom_cache[norms])
                _push_topk(heap, k, ids[m], sc, search_after, excluded)

        _stream_chunks(batches, process)
        yield _heap_frame(heap)

    npart = n_partitions or index.spark.sparkContext.defaultParallelism
    co = _co_located(
        blocks,
        ["chunk", "term", "block_max_score", "doc_deltas", "tfs",
         "norms", "positions"],
        npart,
    )
    local = co.mapInPandas(kernel, "doc_id long, score double")
    return local.orderBy(F.desc("score"), F.asc("doc_id")).limit(k)


def span_not_topk(
    index,
    field: str,
    include: str,
    exclude: str,
    pre: int = 0,
    post: int = 0,
    k: int = 10,
    n_partitions: int | None = None,
    search_after: tuple[float, int] | None = None,
    weight: float = 1.0,
) -> DataFrame:
    """SpanNotQuery top-k over the compressed segments: an include
    position p survives unless an exclude position q lands in
    ``[p - pre, p + post]``; freq = surviving-position count, BM25
    over the include term's FULL df (the exclude clause gates matching
    but contributes no idf) — result-identical to
    search._scored_span_not. Chunk skip bound: freq <= tf(include),
    so ``score <= w_idf * chunk_max_include / idf_include``. The
    exclude term's blocks ride in the same doc-range chunks (the
    writer co-locates all terms of a doc range), its impact-frontier
    bound is never consulted (``unbounded_keys``), and its positions
    decode only for docs that contain BOTH terms — the per-doc
    survival filter is two vectorized searchsorteds per such doc."""
    if weight <= 0:
        raise ValueError("span_not kernel weight must be positive "
                         "(non-positive weights invert the skip bounds)")
    exc_key = f"{field}\x1f{exclude}"
    inc_key = f"{field}\x1f{include}"
    key_idfs, blocks = _segment_scan(
        index, [(field, include), (field, exclude)],
        unbounded_keys={exc_key},
    )
    if blocks is None or inc_key not in key_idfs:
        # include term absent -> no match (exclude-absent still runs)
        return index.spark.createDataFrame([], "doc_id long, score double")
    idf = key_idfs[inc_key]
    w_idf = float(weight) * idf if weight != 1.0 else idf
    avgdl = float(index.field_stats(field)["avgdl"])
    pre_i, post_i = int(pre), int(post)
    inc_t, exc_t = include, exclude
    excluded = _excluded_ids(index)

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        denom_cache = _denom_cache(avgdl)
        heap: list[tuple[float, int]] = []

        def theta() -> float:
            return heap[0][0] if len(heap) >= k else -math.inf

        def process(cpdf: pd.DataFrame) -> None:
            grp = cpdf[cpdf["term"] == inc_t]
            if len(grp) == 0:
                return
            upper = (w_idf * (float(grp["block_max_score"].max()) / idf)
                     * (1.0 + 1e-12))
            if len(heap) >= k and upper < theta():
                return
            per_term = _index_chunk_terms(
                cpdf, {inc_t: inc_t, exc_t: exc_t}, "term"
            )
            cands = per_term[inc_t][0]
            n_c = cands.size
            if n_c == 0:
                return
            norms_c = np.empty(n_c, dtype=np.uint8)
            inc_pos, inc_cidx = _gather_positions_for(
                per_term[inc_t], cands, norms_out=norms_c
            )
            io = np.argsort(inc_cidx, kind="stable")
            ip, ic = inc_pos[io], inc_cidx[io]
            freq = np.bincount(ic, minlength=n_c)
            if exc_t in per_term:
                exc_pos, exc_cidx = _gather_positions_for(
                    per_term[exc_t], cands
                )
                if exc_pos.size:
                    eo = np.argsort(exc_cidx, kind="stable")
                    ep, ec = exc_pos[eo], exc_cidx[eo]
                    # only docs containing BOTH terms re-filter
                    both = np.unique(ec)
                    e_lo = np.searchsorted(ec, both)
                    e_hi = np.searchsorted(ec, both + 1)
                    i_lo = np.searchsorted(ic, both)
                    i_hi = np.searchsorted(ic, both + 1)
                    for j, c in enumerate(both.tolist()):
                        exc_run = ep[e_lo[j]:e_hi[j]]
                        inc_run = ip[i_lo[j]:i_hi[j]]
                        lo = np.searchsorted(exc_run, inc_run - pre_i,
                                             side="left")
                        hi = np.searchsorted(exc_run, inc_run + post_i,
                                             side="right")
                        freq[c] = int(np.count_nonzero(hi == lo))
            m = freq > 0
            if not m.any():
                return
            fr = freq[m].astype(np.float64)
            sc = w_idf * fr / (fr + denom_cache[norms_c[m]])
            _push_topk(heap, k, cands[m], sc, search_after, excluded)

        _stream_chunks(batches, process)
        yield _heap_frame(heap)

    npart = n_partitions or index.spark.sparkContext.defaultParallelism
    co = _co_located(
        blocks,
        ["chunk", "term", "block_max_score", "doc_deltas", "tfs",
         "norms", "positions"],
        npart,
    )
    local = co.mapInPandas(kernel, "doc_id long, score double")
    return local.orderBy(F.desc("score"), F.asc("doc_id")).limit(k)


def flat_spec(clauses: list, msm: int = 0) -> tuple[list, TreeNode]:
    """The ``(leaves, root)`` spec of a FLAT boolean of term clauses
    ``[(occ, field, term, weight), ...]`` with occ 'MUST' or 'SHOULD'.
    Duplicate (field, term) pairs merge into one leaf by summing their
    weights in clause order (MUST if any occurrence is) — the merge
    search._scored_term_group makes. Leaves are listed sorted by
    (field, term), so the tree kernel's per-node fold adds the leaf
    scores in that plan's canonical order and the two strategies stay
    bit-identical."""
    merged: dict[tuple[str, str], list] = {}
    for occ, f_, t_, w in clauses:
        m = merged.setdefault((f_, t_), [0.0, False])
        m[0] += w
        m[1] = m[1] or occ == "MUST"
    leaves, musts, shoulds = [], [], []
    for lid, ((f_, t_), (w, must)) in enumerate(sorted(merged.items())):
        leaves.append(TreeLeaf(lid, f_, t_, w, True))
        (musts if must else shoulds).append(lid)
    return leaves, TreeNode(tuple(musts), tuple(shoulds), (), msm)


def wand_pairs_topk(
    index,
    pairs: list[tuple[str, str]],
    k: int = 10,
    mode: str = "or",
    n_partitions: int | None = None,
    weights: dict | None = None,
    search_after: tuple[float, int] | None = None,
    msm: int = 0,
) -> DataFrame:
    """Top-k (doc_id, score) for a (field, term) set — possibly
    spanning SEVERAL fields — on the tree kernel. ``mode`` = 'or'
    (SHOULD sum) or 'and' (MUST intersection, scores summed).
    ``weights`` maps (field, term) -> boost (default 1.0); repeated
    pairs count once. ``msm`` keeps docs matching at least that many
    SHOULD pairs (minimumNumberShouldMatch)."""
    if mode not in ("or", "and"):
        raise ValidationError("mode must be 'or' or 'and'", {"mode": mode})
    occ = "MUST" if mode == "and" else "SHOULD"
    weights = weights or {}
    leaves, root = flat_spec(
        [(occ, f_, t_, float(weights.get((f_, t_), 1.0)))
         for f_, t_ in dict.fromkeys(pairs)],
        msm,
    )
    return wand_tree_topk(index, leaves, root, k=k,
                          n_partitions=n_partitions,
                          search_after=search_after)


def wand_topk(
    index,
    field: str,
    terms: list[str],
    k: int = 10,
    mode: str = "or",
    n_partitions: int | None = None,
    term_weights: dict | None = None,
) -> DataFrame:
    """Single-field convenience wrapper over ``wand_pairs_topk``."""
    weights = (
        {(field, t): w for t, w in term_weights.items()}
        if term_weights
        else None
    )
    return wand_pairs_topk(
        index,
        [(field, t) for t in terms],
        k=k,
        mode=mode,
        n_partitions=n_partitions,
        weights=weights,
    )


def span_or_topk(
    index,
    field: str,
    terms: list[str],
    k: int = 10,
    boost: float = 1.0,
    n_partitions: int | None = None,
    search_after: tuple[float, int] | None = None,
) -> DataFrame:
    """SpanOrQuery (pooled-tf synonym scoring) over the compressed
    segments: per-doc freq = the SUM of the clause tfs, saturated ONCE
    with the summed idf — bit-identical to the DataFrame path
    (search._scored_span_or), with block-max skipping.

    Bound soundness: BM25 is subadditive in tf (f(a+b) <= f(a)+f(b)
    for f(x) = x/(x+d)), so widf*f(sum tf_i) <= sum_i widf*f(tf_i) —
    the pooled score is bounded by the per-term blocks' bounds IF each
    term's bound uses the FULL summed idf, not its own. That is
    arranged by folding weight w_t = widf/idf_t into each term's
    block_max_score; because the scan computes idf_t * w_t with two
    roundings, w_t is inflated by a relative 1e-12 (>> the few-ulp
    rounding budget) so the folded bound provably dominates the true
    pooled score. The inflation loosens skipping immeasurably and
    never touches the returned scores, which use the exact widf."""
    if boost <= 0:
        raise ValueError("span_or kernel requires boost > 0 (a "
                         "non-positive weight inverts the skip bounds)")
    pairs = [(field, t) for t in dict.fromkeys(terms)]
    key_idfs0, _ = _segment_scan(index, pairs, idfs_only=True)
    if not key_idfs0:
        return index.spark.createDataFrame([], "doc_id long, score double")
    # idf_sum in ORIGINAL clause order — the DataFrame path sums its
    # idf literals in `present` order, and float addition is
    # order-sensitive; matching the fold order keeps scores bit-equal
    idf_sum = 0.0
    for f_, t_ in pairs:
        v = key_idfs0.get(f"{f_}\x1f{t_}")
        if v is not None:
            idf_sum += v
    widf = float(boost) * idf_sum
    weights = {
        (f_, t_): (widf / key_idfs0[f"{f_}\x1f{t_}"]) * (1.0 + 1e-12)
        for f_, t_ in pairs
        if f"{f_}\x1f{t_}" in key_idfs0
    }
    _, blocks = _segment_scan(index, pairs, weights)
    denom = _denom_cache(float(index.field_stats(field)["avgdl"]))
    excluded = _excluded_ids(index)

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        heap: list[tuple[float, int]] = []

        def theta() -> float:
            return heap[0][0] if len(heap) >= k else -math.inf

        def process(cpdf: pd.DataFrame) -> None:
            # per-key chunk maxima ONCE: the chunk bound is their sum;
            # a block's skip bound is its own max + the OTHER keys'.
            # STRICT comparisons: a doc scoring exactly θ can still win
            # the doc_id tiebreak, so ties are decoded, not skipped
            key_maxes = cpdf.groupby("fkey")["block_max_score"].max()
            tm_sum = float(key_maxes.sum())
            if len(heap) >= k and tm_sum < theta():
                return
            doc_parts, tf_parts, norm_parts = [], [], []
            for row in cpdf.itertuples(index=False):
                others = tm_sum - float(key_maxes[row.fkey])
                if (
                    len(heap) >= k
                    and row.block_max_score + others < theta()
                ):
                    continue
                doc_parts.append(codec.delta_decode(
                    codec.decode_block(row.doc_deltas)
                ))
                tf_parts.append(
                    codec.decode_block(row.tfs).astype(np.float64)
                )
                norm_parts.append(np.frombuffer(row.norms, dtype=np.uint8))
            if not doc_parts:
                return
            # accumulate RAW tfs per doc (integer-valued, so the sum is
            # exact in any order), then saturate ONCE with widf
            uniq, inv = np.unique(np.concatenate(doc_parts),
                                  return_inverse=True)
            tf_agg = np.zeros(uniq.size, dtype=np.float64)
            np.add.at(tf_agg, inv, np.concatenate(tf_parts))
            # same doc => same field dl => same norm byte; last write
            # wins over identical values
            norm_agg = np.zeros(uniq.size, dtype=np.uint8)
            norm_agg[inv] = np.concatenate(norm_parts)
            agg = widf * tf_agg / (tf_agg + denom[norm_agg])
            _push_topk(heap, k, uniq, agg, search_after, excluded)

        _stream_chunks(batches, process)
        yield _heap_frame(heap)

    npart = n_partitions or index.spark.sparkContext.defaultParallelism
    co = _co_located(
        blocks,
        ["chunk", "fkey", "block_max_score", "doc_deltas", "tfs", "norms"],
        npart,
    )
    local = co.mapInPandas(kernel, "doc_id long, score double")
    return local.orderBy(F.desc("score"), F.asc("doc_id")).limit(k)


def _first_lid(node) -> float:
    """The smallest leaf lid under ``node`` (inf for an empty node)."""
    if isinstance(node, int):
        return node
    return min(
        (_first_lid(c) for c in node.musts + node.shoulds + node.nots),
        default=math.inf,
    )


def _fold_orders(root) -> dict:
    """id(node) -> the node's MUST and SHOULD children as
    ``(child, is_must)`` in ascending first-lid order: the tree
    kernel's per-node score fold order."""
    out: dict[int, list] = {}

    def walk(node) -> None:
        if isinstance(node, int):
            return
        out[id(node)] = sorted(
            [(c, True) for c in node.musts]
            + [(c, False) for c in node.shoulds],
            key=lambda cm: _first_lid(cm[0]),
        )
        for c in node.musts + node.shoulds + node.nots:
            walk(c)

    walk(root)
    return out


def _make_tree_kernel(
    key_idfs: dict,
    key_denoms: dict,
    occs: dict,
    leaf_by_lid: dict,
    root,
    never_skip: frozenset,
    k: int,
    search_after: tuple[float, int] | None = None,
    excluded: np.ndarray | None = None,
    phrases: list | None = None,
    phrase_fkeys: frozenset = frozenset(),
):
    """Per-partition streaming kernel for ARBITRARY-DEPTH boolean
    trees — the segment analogue of search._scored_tree. ``occs`` maps
    fkey -> [(lid, weight, scored)] occurrence list; ``leaf_by_lid``
    maps lid -> (fkey, weight, scored); ``root`` is a TreeNode whose
    leaves are lids (absent-from-dictionary leaves already pruned by
    the caller — they are simply missing from occs/leaf_by_lid and
    evaluate as constant non-matches).

    Bound model: the chunk upper bound is the sum over COUNTABLE
    leaves of weight * chunk_max_base(fkey). A leaf is countable iff
    it is scored, its fkey appears in the chunk, and every SHOULD
    ancestor subtree on its root path is possible in the chunk
    (impossible subtrees contribute exactly 0 to any doc's score —
    chunk == doc-id range, so possibility is a per-chunk constant).
    Because the bound is LINEAR in the leaf maxima, a block b of fkey
    F bounds docs it contains by ``ub - cw[F]*(chunk_max[F] -
    block_max[b])`` with cw[F] the summed countable weight of F —
    skipping on that bound below θ is exact. Dropping the skipped
    block's match flags is sound too: away from MUST_NOT edges every
    node's match and score are monotone in its children's (msm and a
    tie <= 1 included), so a doc of that block can only lose score or
    its match — and its true total is already below θ.

    Keys in ``never_skip`` carry at least one match-only occurrence
    (a MUST_NOT edge somewhere on a root path): missing one of their
    matches could wrongly INCLUDE a doc, so their blocks are always
    decoded (ids-only when no countable occurrence needs scores).
    A key with zero countable weight in a chunk and no never_skip
    obligation is skipped outright — every occurrence sits in a
    subtree that cannot match in this chunk.

    ``phrases`` adds PHRASE leaves (PhraseTreeLeaf specs as dicts with
    {lid, scored, offsets, term_idfs, fkey_term, fkeys, idf_sum,
    denom}): a phrase is live in a chunk only if ALL its constituent
    keys appear there; a live countable phrase contributes the derived
    bound ``idf_sum * min_t(chunk_max_t / idf_t)`` to the chunk upper
    bound as a per-chunk CONSTANT (term-block skipping subtracts only
    term-key deltas, so the phrase part stays an upper bound), and
    phrase constituent blocks are never block-skipped. Match-only
    phrases contribute nothing to bounds and evaluate ids-only.

    Fold order: a node adds its MUST and SHOULD children's scores in
    ascending first-lid order, MUST and SHOULD interleaved, an
    unmatched SHOULD adding 0.0. For a flat_spec that is the sorted
    (field, term) order of search._scored_term_group's canonical fold;
    for a parsed tree it is clause order."""
    phrases = phrases or []

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        heap: list[tuple[float, int]] = []  # (score, -doc_id) min-heap
        folds = _fold_orders(root)  # keyed by this process's nodes

        def theta() -> float:
            return heap[0][0] if len(heap) >= k else -math.inf

        def process(cpdf: pd.DataFrame) -> None:
            if phrase_fkeys:
                ph = cpdf[cpdf["fkey"].isin(phrase_fkeys)]
                tp = cpdf[~cpdf["fkey"].isin(phrase_fkeys)]
            else:
                ph = None
                tp = cpdf
            live: list = []
            if phrases and ph is not None and len(ph):
                have_ph = set(ph["fkey"].unique())
                for p in phrases:
                    if p["fkeys"] <= have_ph:
                        live.append((p, ph[ph["fkey"].isin(p["fkeys"])]))
            live_lids = {p["lid"] for p, _ in live}
            have_lids = frozenset(
                lid
                for fk in tp["fkey"].unique()
                for lid, _, _ in occs.get(fk, ())
            ) | live_lids
            if not tree_possible(root, have_lids):
                return
            key_maxes = (
                tp.groupby("fkey")["block_max_score"].max()
                if len(tp) else None
            )

            countable: list[tuple[int, str | None, float]] = []

            def collect(node, included: bool) -> None:
                if isinstance(node, int):
                    if included and node in have_lids:
                        # phrase leaves ride leaf_by_lid with fk=None
                        fk, w, sc = leaf_by_lid[node]
                        if sc:
                            countable.append((node, fk, w))
                    return
                for m in node.musts:
                    collect(m, included)
                for s in node.shoulds:
                    collect(s, included and tree_possible(s, have_lids))
                # nots never enter the (positive-sum) bound

            collect(root, True)
            cw: dict[str, float] = {}
            ub = 0.0
            phrase_countable: set[int] = set()
            for lid, fk, w in countable:
                if fk is None:
                    phrase_countable.add(lid)
                    continue
                ub += w * float(key_maxes[fk])
                cw[fk] = cw.get(fk, 0.0) + w
            for p, rows_ in live:
                if not p["scored"] or p["lid"] not in phrase_countable:
                    continue
                ub += _phrase_chunk_bound(p, rows_)
            # STRICT bound: a doc scoring exactly θ can still win the
            # (score desc, doc_id asc) tiebreak, so ties are decoded
            if len(heap) >= k and ub < theta():
                return
            per_fkey: dict[str, list] = {}
            for row in tp.itertuples(index=False):
                fk = row.fkey
                if fk not in occs:
                    continue
                cwf = cw.get(fk, 0.0)
                if cwf == 0.0:
                    if fk not in never_skip:
                        # every occurrence sits in a chunk-impossible
                        # subtree: neither score nor flags can matter
                        continue
                elif (
                    fk not in never_skip
                    and len(heap) >= k
                    and ub
                    - cwf * (float(key_maxes[fk]) - float(row.block_max_score))
                    < theta()
                ):
                    continue
                ids = codec.delta_decode(
                    codec.decode_block(row.doc_deltas)
                )
                if cwf > 0.0:
                    tfs = codec.decode_block(row.tfs).astype(np.float64)
                    norms = np.frombuffer(row.norms, dtype=np.uint8)
                    base = (
                        key_idfs[fk] * tfs / (tfs + key_denoms[fk][norms])
                    )
                else:
                    base = None  # match-only this chunk: ids suffice
                per_fkey.setdefault(fk, []).append((ids, base))
            # live phrases evaluate from positions (lazy per-block
            # decode); countable ones are scored, the rest (match-only
            # or in chunk-impossible subtrees) ids-only
            phrase_hits: list[tuple[dict, np.ndarray, object]] = []
            for p, rows_ in live:
                want_score = p["lid"] in phrase_countable
                ids_p, sc_p = _eval_phrase_chunk(
                    rows_, p["fkey_term"], p["offsets"], p["idf_sum"],
                    p["denom"], score=want_score,
                )
                if ids_p.size:
                    phrase_hits.append((p, ids_p, sc_p))
            # candidate universe: every matching doc matches at least
            # one countable leaf (a matched node always reaches a
            # matched, included, possible scored leaf), so the union
            # of the countable keys' decoded ids is complete
            cand_parts = [
                ids
                for fk, rows_ in per_fkey.items()
                if cw.get(fk, 0.0) > 0.0
                for ids, _ in rows_
            ] + [
                ids_p
                for p, ids_p, _ in phrase_hits
                if p["lid"] in phrase_countable
            ]
            if not cand_parts:
                return
            uids = np.unique(np.concatenate(cand_parts))
            n = uids.size
            matched: dict[int, np.ndarray] = {}
            scores: dict[int, np.ndarray] = {}
            for fk, rows_ in per_fkey.items():
                ids = np.concatenate([r[0] for r in rows_])
                base = (
                    np.concatenate([r[1] for r in rows_])
                    if rows_[0][1] is not None
                    else None
                )
                idx = np.searchsorted(uids, ids)
                idx_c = np.minimum(idx, n - 1)
                valid = uids[idx_c] == ids
                at = idx_c[valid]
                # one (read-only) match mask shared by every
                # occurrence of the key; scores scatter per occurrence
                m = np.zeros(n, dtype=bool)
                m[at] = True
                for lid, w, sc in occs[fk]:
                    matched[lid] = m
                    if sc and base is not None:
                        s = np.zeros(n, dtype=np.float64)
                        s[at] = w * base[valid]
                        scores[lid] = s
            for p, ids_p, sc_p in phrase_hits:
                idx = np.searchsorted(uids, ids_p)
                idx_c = np.minimum(idx, n - 1)
                valid = uids[idx_c] == ids_p
                at = idx_c[valid]
                m = np.zeros(n, dtype=bool)
                m[at] = True
                matched[p["lid"]] = m
                if sc_p is not None:
                    s = np.zeros(n, dtype=np.float64)
                    s[at] = sc_p[valid]
                    scores[p["lid"]] = s
            zero_s = np.zeros(n, dtype=np.float64)
            zero_m = np.zeros(n, dtype=bool)

            def ev(node):
                """(matched bool[n], score float64[n]) — children fold
                in the node's fold order (see the factory docstring)."""
                if isinstance(node, int):
                    m = matched.get(node)
                    if m is None:
                        return zero_m, zero_s
                    return m, scores.get(node, zero_s)
                m_acc = s_acc = any_s = n_s = mx = None
                for ch, is_must in folds[id(node)]:
                    cm, cs = ev(ch)
                    if is_must:
                        m_acc = cm if m_acc is None else (m_acc & cm)
                    else:
                        any_s = cm if any_s is None else (any_s | cm)
                        cs = np.where(cm, cs, 0.0)
                        if node.msm:
                            n_s = (cm.astype(np.int64) if n_s is None
                                   else n_s + cm)
                        if node.tie is not None:
                            mx = cs if mx is None else np.maximum(mx, cs)
                    s_acc = cs if s_acc is None else (s_acc + cs)
                if not node.musts:
                    m_acc = any_s if any_s is not None else zero_m
                if node.msm:
                    m_acc = (m_acc & (n_s >= node.msm) if n_s is not None
                             else zero_m)
                if mx is not None:
                    # DisjunctionMaxQuery over the SHOULD scores
                    s_acc = mx + node.tie * (s_acc - mx) if node.tie else mx
                for nch in node.nots:
                    cm, _ = ev(nch)
                    m_acc = m_acc & ~cm
                return m_acc, (s_acc if s_acc is not None else zero_s)

            m_root, s_root = ev(root)
            if not m_root.any():
                return
            cand, cscore = uids[m_root], s_root[m_root]
            _push_topk(heap, k, cand, cscore, search_after, excluded)

        _stream_chunks(batches, process)
        yield _heap_frame(heap)

    return kernel


def check_tree_spec(leaves: list, root) -> None:
    """Raise ValidationError unless the tree kernel can run
    ``(leaves, root)`` exactly:

    - every scored leaf has a positive weight (a non-positive weight
      inverts the block-max skip bounds);
    - no (field, term) pair is shared between a phrase constituent and
      any other leaf (the positions scan and the impacts scan would
      double-carry the same blocks);
    - every node's msm is >= 0, and a ``tie`` lies in [0, 1] on a node
      without musts (where the sum bounds dominate the dismax score).
    """
    term_pairs: set[tuple[str, str]] = set()
    phrase_pairs: set[tuple[str, str]] = set()
    for le in leaves:
        if le.scored and not le.weight > 0:
            raise ValidationError(
                "tree kernel leaves need positive weights (a "
                "non-positive weight inverts the skip bounds)",
                {"leaf": le},
            )
        if isinstance(le, PhraseTreeLeaf):
            pp = {(le.field, t_) for t_ in le.terms}
            shared = pp & (term_pairs | phrase_pairs)
            phrase_pairs |= pp
        else:
            pp = {(le.field, le.term)}
            shared = pp & phrase_pairs
            term_pairs |= pp
        if shared:
            raise ValidationError(
                "a phrase constituent may not share a (field, term) "
                "pair with another tree leaf",
                {"pairs": sorted(shared)},
            )

    def walk(node) -> None:
        if isinstance(node, int):
            return
        if node.msm < 0 or (
            node.tie is not None
            and (node.musts or not 0.0 <= node.tie <= 1.0)
        ):
            raise ValidationError(
                "tree node needs msm >= 0 and, with a tie, no musts "
                "and 0 <= tie <= 1",
                {"msm": node.msm, "tie": node.tie},
            )
        for c in node.musts + node.shoulds + node.nots:
            walk(c)

    walk(root)


def wand_tree_topk(
    index,
    leaves: list,
    root,
    k: int = 10,
    n_partitions: int | None = None,
    search_after: tuple[float, int] | None = None,
) -> DataFrame:
    """Top-k (doc_id, score) for an ARBITRARY-DEPTH boolean tree of
    term leaves over the compressed segments — ``leaves`` is a list of
    TreeLeaf (ancestor boosts pre-folded into the weights,
    search._bool_tree_spec) and ``root`` a TreeNode over the lids.
    Executes the same semantics as the recursive DataFrame compiler
    (search._scored_bool_joins) in ONE streaming pruned scan of the
    query keys' blocks — ``((a AND b) OR (c AND d)) NOT e`` at any
    nesting depth, no join per clause.

    The spec is checked first (``check_tree_spec``: positive scored
    weights, no pair shared with a phrase constituent, msm >= 0, tie
    in [0, 1]); a spec the kernel cannot run exactly raises
    ValidationError. Leaves absent from the term dictionary are pruned here:
    an absent leaf can never match (a phrase leaf is present only if
    ALL its terms are), so subtrees it renders impossible drop out,
    and if the root itself becomes impossible the result is empty.

    Phrase constituent keys go through a SEPARATE pushed-down scan
    that keeps the ``positions`` column; term keys' scan replaces it
    with NULL, so position bytes are only read for the blocks a phrase
    actually needs. Both scans union before the chunk-range
    co-location — still one streaming doc-ordered pass."""
    check_tree_spec(leaves, root)
    empty = lambda: index.spark.createDataFrame(  # noqa: E731
        [], "doc_id long, score double"
    )
    term_leaves = [le for le in leaves if isinstance(le, TreeLeaf)]
    phrase_leaves = [le for le in leaves if isinstance(le, PhraseTreeLeaf)]
    fkey_of = lambda le: f"{le.field}\x1f{le.term}"  # noqa: E731
    pairs = sorted({(le.field, le.term) for le in term_leaves})
    scored_fkeys = {fkey_of(le) for le in term_leaves if le.scored}
    # bounds are consulted only for keys with a scored occurrence;
    # exclusion-only keys skip the per-block impacts fold entirely
    unbounded = {fkey_of(le) for le in term_leaves} - scored_fkeys
    if pairs:
        key_idfs, blocks = _segment_scan(
            index, pairs, unbounded_keys=unbounded
        )
    else:
        key_idfs, blocks = {}, None
    if phrase_leaves:
        p_pairs = sorted(
            {(le.field, t_) for le in phrase_leaves for t_ in le.terms}
        )
        p_unbounded = {
            f"{le.field}\x1f{t_}"
            for le in phrase_leaves
            if not le.scored
            for t_ in le.terms
        } - {
            f"{le.field}\x1f{t_}"
            for le in phrase_leaves
            if le.scored
            for t_ in le.terms
        }
        p_idfs, p_blocks = _segment_scan(
            index, p_pairs, unbounded_keys=p_unbounded
        )
    else:
        p_idfs, p_blocks = {}, None
    if blocks is None and p_blocks is None:
        return empty()
    present_lids = frozenset(
        le.lid for le in term_leaves if fkey_of(le) in key_idfs
    ) | frozenset(
        le.lid
        for le in phrase_leaves
        if all(f"{le.field}\x1f{t_}" in p_idfs for t_ in le.terms)
    )
    if not tree_possible(root, present_lids):
        return empty()
    occs: dict[str, list] = {}
    leaf_by_lid: dict[int, tuple] = {}
    for le in term_leaves:
        if le.lid not in present_lids:
            continue
        fk = fkey_of(le)
        occs.setdefault(fk, []).append((le.lid, float(le.weight), le.scored))
        leaf_by_lid[le.lid] = (fk, float(le.weight), le.scored)
    never_skip = frozenset(
        fk for fk, lst in occs.items() if any(not sc for _, _, sc in lst)
    )
    phrases: list[dict] = []
    for le in phrase_leaves:
        if le.lid not in present_lids:
            continue
        phrases.append(_phrase_spec(index, le, p_idfs))
        # phrase leaves ride leaf_by_lid with fk=None so the kernel's
        # countable-collection treats them uniformly
        leaf_by_lid[le.lid] = (None, float(le.weight), le.scored)
    cols = ["chunk", "fkey", "block_max_score", "doc_deltas", "tfs",
            "norms"]
    phrase_fkeys = frozenset(fk for p in phrases for fk in p["fkeys"])
    if not phrases:
        # positions are never consulted without phrase leaves
        allb = blocks
    else:
        cols.append("positions")
        allb = p_blocks
        if len(phrase_fkeys) < len(p_idfs):
            # some phrase was dropped (absent constituent) — its other
            # terms' blocks are unneeded
            allb = allb.filter(F.col("fkey").isin(sorted(phrase_fkeys)))
        allb = allb.select(*cols)
        if occs:
            allb = blocks.withColumn(
                "positions", F.lit(None).cast("binary")
            ).select(*cols).unionByName(allb)
    npart = n_partitions or index.spark.sparkContext.defaultParallelism
    co = _co_located(allb, cols, npart)
    kernel = _make_tree_kernel(
        key_idfs,
        _key_denoms(index, key_idfs),
        occs,
        leaf_by_lid,
        root,
        never_skip,
        k,
        search_after=search_after,
        excluded=_excluded_ids(index),
        phrases=phrases,
        phrase_fkeys=phrase_fkeys,
    )
    local = co.mapInPandas(kernel, "doc_id long, score double")
    return local.orderBy(F.desc("score"), F.asc("doc_id")).limit(k)
