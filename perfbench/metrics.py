"""Every metric the benchmark reports, with its unit and direction.
``BENCHMARK.json`` lists the same names; a self-test keeps the two in
step."""

from __future__ import annotations

#: per-layer buckets of search ops (workload.Op.kind)
KINDS = ("term", "bool", "phrase", "hit", "page")
#: Spark job phases the event-log task metrics are split by
PHASES = ("build", "append", "merge", "call", "collect")

END_TO_END = {
    "op_gmean_ms": ("ms", "lower"),
    "ops_per_s": ("1/s", "higher"),
    "setup_s": ("s", "lower"),
}


def _per_layer() -> dict[str, tuple[str, str]]:
    m = {
        "query.parse_ms": ("ms", "lower"),
        "search.call_ms": ("ms", "lower"),
        "search.call_jobs": ("count", "lower"),
        "search.collect_ms": ("ms", "lower"),
        "search.collect_jobs": ("count", "lower"),
        "search.collect_stages": ("count", "lower"),
        "search.collect_tasks": ("count", "lower"),
        "search.kernel_route_frac": ("ratio", "higher"),
    }
    for kind in KINDS:
        m[f"search.call_ms.{kind}"] = ("ms", "lower")
        m[f"search.collect_ms.{kind}"] = ("ms", "lower")
        m[f"search.collect_jobs.{kind}"] = ("count", "lower")
    for layer in ("suggest", "spell", "collectors"):
        m[f"{layer}.call_ms"] = ("ms", "lower")
        m[f"{layer}.collect_ms"] = ("ms", "lower")
        m[f"{layer}.collect_jobs"] = ("count", "lower")
    m.update({
        "session.open_ms": ("ms", "lower"),
        "spark.empty_job_ms": ("ms", "lower"),
    })
    for phase in PHASES:
        for what in ("run", "cpu", "gc"):
            m[f"spark.task_{what}_ms.{phase}"] = ("ms", "lower")
    m.update({
        "analysis.tokenize_ms": ("ms", "lower"),
        "analysis.tokens": ("count", "higher"),
        "indexer.create_index_ms": ("ms", "lower"),
        "indexer.create_index_jobs": ("count", "lower"),
        "indexer.build_docs_per_s": ("docs/s", "higher"),
        "indexer.bytes": ("bytes", "lower"),
        "indexer.bytes_per_text_byte": ("ratio", "lower"),
        "segments.build_ms": ("ms", "lower"),
        "segments.build_jobs": ("count", "lower"),
        "segments.bytes": ("bytes", "lower"),
        "segments.append_ms": ("ms", "lower"),
        "segments.append_docs_per_s": ("docs/s", "higher"),
        "segments.delta_count": ("count", "lower"),
        "segments.files": ("count", "lower"),
        "segments.merge_ms": ("ms", "lower"),
        "trace.op_gmean_ms": ("ms", "lower"),
        "trace.overhead_ms": ("ms", "lower"),
        "bench.op_self_ms": ("ms", "lower"),
    })
    return m


PER_LAYER = _per_layer()


def values(kind: str, measured: dict) -> dict:
    """The result's ``metrics`` object for ``kind`` ("end_to_end" or
    "per_layer"): exactly the defined names, each with its unit."""
    spec = END_TO_END if kind == "end_to_end" else PER_LAYER
    if set(measured) != set(spec):
        raise KeyError(f"{kind} metrics differ from the definitions: "
                       f"{sorted(set(measured) ^ set(spec))}")
    return {name: {"value": float(measured[name]), "unit": spec[name][0]}
            for name in spec}
