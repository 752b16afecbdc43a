"""The two workloads: set-up, the closed measured loop, the top-k
checks and, with tracing on, the per-layer report.

One client thread sends each op only after the previous one has
returned its rows (a closed loop). An op's latency is the public call
plus ``.collect()`` of the DataFrame it returns.
"""

from __future__ import annotations

import json
import os
import random
import shutil
import sys
import time
import traceback

from perfbench import checks, eventlog, metrics, sparkhost, stats
from perfbench.trace import Tracer, self_times
from perfbench.workload import WARMUP, OpStream, cycle_tags

N_DOCS = 6_000
VOCAB = 50_000
DUP_FRAC = 0.1
K = 10
SEG_BUCKETS = 4          # build_segments buckets, one per CPU of the host
APPEND_FRAC = 0.05       # the traced append, as a share of the corpus
SAMPLE_DOCS = 300        # documents the phrase ops are drawn from
PER_SLOT = 2             # whole cycles an untraced run runs at least
EMPTY_JOBS = 10

FIELDS = {
    "text": "text",
    "lang": "keyword",
    "url": {"type": "keyword", "suggest": {"contexts_from": "lang"}},
}
LAYER_OF_API = {"search": "search", "suggest": "suggest", "spell": "spell",
                "count": "collectors", "facets": "collectors"}
PHASE_OF_SPAN = {"indexer.create_index": "build", "segments.build": "build",
                 "session.open": "build", "segments.append": "append",
                 "segments.merge": "merge"}


def dir_bytes(path: str) -> tuple[int, int]:
    """(bytes, files) under ``path``."""
    total = files = 0
    for d, _, names in os.walk(path):
        for n in names:
            total += os.path.getsize(os.path.join(d, n))
            files += 1
    return total, files


class Bench:
    def __init__(self, workload: str, seed: int, seconds: float,
                 trace: bool, root: str, n_docs: int = N_DOCS):
        if workload not in ("zipf_selective", "zipf_memory"):
            raise ValueError(f"unknown workload {workload!r}")
        self.workload, self.seed, self.seconds = workload, seed, seconds
        self.traced, self.root, self.n_docs = trace, root, n_docs
        base = os.path.join(root, ".bench_work")
        self.work = os.path.join(base, f"{workload}-{seed}-{os.getpid()}")
        self.trace_path = os.path.join(
            base, "traces", f"{workload}-seed{seed}.json")
        self.event_dir = os.path.join(self.work, "events") if trace else None
        self.spark = None
        self.idx = None
        self.tr = Tracer()
        self.ops: dict[int, object] = {}
        self.tags = cycle_tags(workload)
        self.lat_ms: dict[str, list[float]] = {}     # untraced, by tag
        self.traced_ms: dict[str, list[float]] = {}  # traced, by tag
        self.attempted = 0
        self.failures: list[str] = []
        self.checked = 0
        self.routed = [0, 0]               # kernel-served, search ops seen
        self.info: dict = {"workload": workload, "seed": seed,
                           "seconds": seconds, "trace": trace,
                           "n_docs": n_docs, "host": sparkhost.host_info()}
        self.steps: dict[str, float] = {}
        self.t0 = time.perf_counter()
        self.sequence: list[tuple[str, float]] = []

    # --- set-up helpers ---------------------------------------------
    def _corpus(self, total: int):
        """``total`` synthesized docs, left lazy: synthesis is a cheap,
        deterministic projection that create_index caches itself. Docs
        with ids below ``n_docs`` are the corpus; the rest are delta
        batches for appends (synthesize puts its near-duplicate tail
        last, so the deltas are near-duplicates of corpus docs: a
        recrawl)."""
        from pyspark.sql import functions as F

        from tools.zipf_corpus import synthesize

        df = synthesize(self.spark, total, vocab=VOCAB, dup_frac=DUP_FRAC,
                        seed=self.seed)
        return df.filter(F.col("doc_id") < self.n_docs), df

    def _texts(self, corpus) -> list[str]:
        from pyspark.sql import functions as F

        rng = random.Random(f"sample:{self.seed}")
        ids = rng.sample(range(self.n_docs), min(SAMPLE_DOCS, self.n_docs))
        rows = corpus.filter(F.col("doc_id").isin(ids)).select(
            "doc_id", "text").collect()
        return [r["text"] for r in sorted(rows, key=lambda r: r["doc_id"])]

    def _warm(self, texts) -> None:
        """The workload's warm-up ops (workload.WARMUP), untimed."""
        warm = OpStream(self.workload, self.seed, texts, salt="warm-up")
        self.tr.enabled = False
        for cls, mod in WARMUP[self.workload]:
            self._exec(warm.draw(cls, mod), None, measured=False)
        self.tr.enabled = self.traced

    # --- one op ---------------------------------------------------------
    def _invoke(self, op, after, strategy="auto", hit=None):
        """The public call of ``op``; returns its lazy DataFrame."""
        idx = self.idx
        if op.api == "suggest":
            return idx.suggest_("url", op.query, fuzzy=op.fuzzy,
                                contexts=list(op.contexts) or None,
                                with_hit=False)
        if op.api == "spell":
            return idx.spell_suggest("text", op.query)
        if op.api == "count":
            return idx.count_hits(op.query, field_name="text")
        if op.api == "facets":
            return idx.facets(op.query, "lang", field_name="text")
        from lucene_clj_spark.query import parse_dsl

        q, kw = op.query, {}
        if op.dsl:
            q = parse_dsl(q, "text", idx.specs, idx.analyzers)
        elif isinstance(q, dict):
            q = {f: v if isinstance(v, str) else set(v)
                 for f, v in q.items()}
        else:
            kw["field_name"] = "text"
        if op.msm:
            kw["min_should_match"] = op.msm
        if op.page:
            kw["page"] = op.page
        if op.after_prev:
            if after is None:
                kw["page"] = 1
            else:
                kw["search_after"] = after
        return idx.search(q, results_per_page=K, strategy=strategy,
                          with_hit=op.hit if hit is None else hit, **kw)

    def _parse_again(self, op) -> None:
        """The query layer on its own: the op's public parse call."""
        from lucene_clj_spark.query import parse, parse_dsl

        idx = self.idx
        if op.dsl:
            parse_dsl(op.query, "text", idx.specs, idx.analyzers)
        elif isinstance(op.query, dict):
            parse({f: set(v) for f, v in op.query.items()}, idx.specs,
                  idx.analyzers)
        else:
            parse(op.query, idx.specs, idx.analyzers, "text")

    def _exec(self, op, prev_rows, measured=True):
        """Run ``op`` once; returns (rows or None, seconds, cursor)."""
        after = None
        if op.after_prev and prev_rows:
            last = prev_rows[-1]
            after = {"score": float(last["score"]),
                     "doc_id": int(last["doc_id"])}
        layer = LAYER_OF_API[op.api]
        oid = len(self.ops)
        tr = self.tr
        t0 = time.perf_counter()
        try:
            with tr.span("op", op=oid):
                with tr.span(layer + ".call"):
                    df = self._invoke(op, after)
                with tr.span(layer + ".collect"):
                    rows = df.collect()
        except Exception:  # noqa: BLE001 - a failed op is counted, not fatal
            rows = None
            if measured:
                self.failures.append(f"{op} raised:\n"
                                     + traceback.format_exc(limit=3))
        dt = time.perf_counter() - t0
        if tr.enabled:
            self.ops[oid] = op
        return rows, dt, after

    # --- the measured loop ------------------------------------------
    def _batch(self, stream, seconds: float) -> list:
        """Closed loop of whole op cycles; returns (op, rows, cursor) of
        every op run, for the checks. It runs PER_SLOT cycles, so that
        every slot has a sample beyond its first, cold call, and more
        whole cycles while ``seconds`` have not passed: every slot ends
        with the same number of samples. A traced run sends every op
        twice (see _traced_pair) and needs one cycle; its per-layer
        figures are medians over spans."""
        done = []
        prev = None
        end = time.perf_counter() + seconds
        cycle = len(self.tags)
        least = cycle * (1 if self.traced else PER_SLOT)
        n = 0
        while n < least or n % cycle or time.perf_counter() < end:
            op = next(stream)
            if self.traced:
                rows, after = self._traced_pair(op, prev, n)
            else:
                rows, dt, after = self._exec(op, prev)
                self._record(op, dt)
                self.attempted += 1
            done.append((op, rows, after))
            prev = rows
            n += 1
        return done

    def _record(self, op, seconds: float) -> None:
        self.lat_ms.setdefault(op.tag, []).append(seconds * 1000.0)
        self.sequence.append((op.tag, round(seconds * 1000.0, 1)))

    def _measure(self, stream, seconds: float, check) -> None:
        """One measured batch, then ``check`` over its ops."""
        ticks = sparkhost.cpu_ticks()
        done = self._timed("loop_s", self._batch, stream, seconds)
        self.info["loop_steal"] = sparkhost.steal_share(
            ticks, sparkhost.cpu_ticks())
        self._timed("checks_s", check, done)

    def _traced_pair(self, op, prev, n):
        """Run the op traced and untraced, alternating which goes
        first, so the difference of the two medians is the tracing
        overhead; the traced run's rows are the ones checked."""
        out = None
        for traced in ((True, False) if n % 2 == 0 else (False, True)):
            self.tr.enabled = traced
            oid = len(self.ops)
            rows, dt, after = self._exec(op, prev)
            self.attempted += 1
            if not traced:
                self._record(op, dt)
                continue
            self.traced_ms.setdefault(op.tag, []).append(dt * 1000.0)
            out = (rows, after)
            if rows is not None:
                self._route_and_parse(op, oid, after)
        self.tr.enabled = True
        return out

    def _route_and_parse(self, op, oid, after) -> None:
        if op.api in ("search", "count", "facets"):
            with self.tr.span("query.parse", op=oid):
                self._parse_again(op)
        if op.api != "search":
            return
        # plan check as tools/query_index.py --explain makes it; a hit
        # op's result is already fetched, so its hit-less twin is asked
        self.tr.enabled = False
        try:
            df = self._invoke(op, after, hit=False)
            plan = df._jdf.queryExecution().executedPlan().toString()
            self.routed[0] += "MapInPandas" in plan
            self.routed[1] += 1
        finally:
            self.tr.enabled = True

    # --- checks -------------------------------------------------------
    def _check_dataframe(self, done) -> None:
        """Every distinct search op against strategy='dataframe'."""
        seen = set()
        for op, rows, after in done:
            if op.api != "search" or rows is None:
                continue
            key = (repr(op), repr(after))
            if key in seen:
                continue
            seen.add(key)
            self.checked += 1
            try:
                want = self._invoke(op, after, strategy="dataframe",
                                    hit=False).collect()
            except Exception:  # noqa: BLE001 - counted as a failed check
                self.failures.append(f"{op} reference raised:\n"
                                     + traceback.format_exc(limit=3))
                continue
            if not checks.same_topk(checks.topk(rows), checks.topk(want)):
                self.failures.append(
                    f"{op} top-k differs from strategy='dataframe': "
                    f"got {checks.topk(rows)} want {checks.topk(want)}")

    def _check_duckdb(self, done, corpus) -> None:
        import duckdb

        con = duckdb.connect()
        try:
            con.register("documents",
                         corpus.select("doc_id", "text").toPandas())
            seen = set()
            for op, rows, _ in done:
                sql = checks.duckdb_sql(op, K) if rows is not None else None
                if sql is None or repr(op) in seen:
                    continue
                seen.add(repr(op))
                want = [(int(d), float(s))
                        for d, s in con.execute(sql).fetchall()]
                self.checked += 1
                if not checks.same_topk(checks.topk(rows), want):
                    self.failures.append(
                        f"{op} top-k differs from the DuckDB twin: "
                        f"got {checks.topk(rows)} want {want}")
        finally:
            con.close()

    # --- workloads ------------------------------------------------------
    def _start(self):
        t0 = time.perf_counter()
        self.spark = sparkhost.start(self.work, self.root, self.event_dir)
        self.tr = Tracer(self.spark.sparkContext, enabled=self.traced)
        self.steps["spark_start_s"] = time.perf_counter() - t0

    def _timed(self, step: str, fn, *args):
        """``fn(*args)``, its seconds added to ``steps[step]``."""
        t0 = time.perf_counter()
        try:
            return fn(*args)
        finally:
            self.steps[step] = (self.steps.get(step, 0.0)
                                + time.perf_counter() - t0)

    def selective(self) -> None:
        from lucene_clj_spark import create_index
        from lucene_clj_spark.segments import build_segments, seg_dir

        t0 = time.perf_counter()
        self._start()
        tr = self.tr
        n_delta = max(1, int(self.n_docs * APPEND_FRAC))
        corpus, docs = self._corpus(self.n_docs + n_delta)
        path = os.path.join(self.work, "index")
        tb = time.perf_counter()
        with tr.span("indexer.create_index", threads=True):
            idx = create_index(self.spark, corpus, FIELDS,
                               id_column="doc_id", index_type="disk",
                               path=path, ignore_extra_columns=True)
        tc = time.perf_counter()
        with tr.span("segments.build", threads=True):
            build_segments(idx, n_buckets=SEG_BUCKETS)
        te = time.perf_counter()
        self.steps.update(create_index_s=tc - tb, build_segments_s=te - tc,
                          build_s=te - tb)
        self.idx = idx
        seg_bytes, _ = dir_bytes(seg_dir(path))
        all_bytes, _ = dir_bytes(path)
        self.info.update(index_bytes=all_bytes, segment_bytes=seg_bytes)
        texts = self._texts(corpus)
        self._timed("warm_s", self._warm, texts)
        self.steps["setup_s"] = time.perf_counter() - t0

        self._measure(OpStream(self.workload, self.seed, texts),
                      self.seconds, self._check_dataframe)
        if self.traced:
            self.info["text_bytes"] = corpus.agg(
                {"n_chars": "sum"}).collect()[0][0]
            self._trace_writes(path, docs.filter(
                docs["doc_id"] >= self.n_docs), n_delta)
            self._trace_extras(corpus)

    def _trace_writes(self, path: str, delta, n_delta: int) -> None:
        """The segments layer's write steps, after the op loop so that
        they do not change what the loop measures: one add_documents
        batch (the synthesizer's near-duplicate tail, a recrawl), then
        merge_segments."""
        from lucene_clj_spark.segments import merge_segments, n_deltas, seg_dir

        tr = self.tr
        ta = time.perf_counter()
        with tr.span("segments.append", threads=True):
            self.idx = self.idx.add_documents(delta,
                                              ignore_extra_columns=True)
        append_s = time.perf_counter() - ta
        self.info["delta_count"] = n_deltas(path)
        self.info["segment_files"] = dir_bytes(seg_dir(path))[1]
        tm = time.perf_counter()
        with tr.span("segments.merge", threads=True):
            merge_segments(self.idx)
        self.steps.update(append_s=append_s, append_docs=n_delta,
                          merge_s=time.perf_counter() - tm)

    def memory(self) -> None:
        from lucene_clj_spark import create_index, open_session

        t0 = time.perf_counter()
        self._start()
        tr = self.tr
        corpus = self._corpus(self.n_docs)[0]
        tb = time.perf_counter()
        with tr.span("indexer.create_index", threads=True):
            idx = create_index(self.spark, corpus, FIELDS,
                               id_column="doc_id",
                               ignore_extra_columns=True)
        tc = time.perf_counter()
        with tr.span("session.open", threads=True):
            session = open_session(idx)
        te = time.perf_counter()
        self.steps.update(create_index_s=tc - tb, open_session_s=te - tc,
                          build_s=te - tb)
        self.idx = session.index
        try:
            texts = self._texts(corpus)
            self._timed("warm_s", self._warm, texts)
            self.steps["setup_s"] = time.perf_counter() - t0
            self._measure(OpStream(self.workload, self.seed, texts),
                          self.seconds,
                          lambda done: self._check_duckdb(done, corpus))
            if self.traced:
                self._trace_extras(corpus)
        finally:
            session.close()

    def _trace_extras(self, corpus) -> None:
        """Per-layer probes outside the op loop: the scheduler floor and
        the analyzer over the corpus."""
        from pyspark.sql import functions as F

        tr = self.tr
        for _ in range(EMPTY_JOBS):
            with tr.span("spark.empty_job"):
                self.spark.range(0, 1, 1, 1).collect()
        an = self.idx.analyzer_for("text")
        with tr.span("analysis.tokenize"):
            n = corpus.select(F.size(an.column("text")).alias("n")).agg(
                F.sum("n")).collect()[0][0]
        self.info["tokens"] = int(n or 0)

    # --- report -------------------------------------------------------
    def end_to_end(self) -> dict:
        s = self.steps
        return metrics.values("end_to_end", {
            "op_gmean_ms": stats.mix_gmean(self.lat_ms, self.tags),
            "ops_per_s": stats.mix_rate(self.lat_ms, self.tags),
            "setup_s": s["setup_s"],
        })

    def per_layer(self, task: dict) -> dict:
        tr, ops = self.tr, self.ops
        selfs = self_times(tr.spans)

        def spans(name, kind=None):
            return [sp for sp in tr.named(name)
                    if kind is None or ops[sp.op].kind == kind]

        def med(name, kind=None, attr="ms"):
            xs = spans(name, kind)
            return stats.median([
                len(sp.jobs) if attr == "jobs" else getattr(sp, attr)
                for sp in xs])

        def total(name, attr="ms"):
            return sum(len(sp.jobs) if attr == "jobs" else getattr(sp, attr)
                       for sp in tr.named(name))

        n_ops = max(1, len(tr.named("op")))
        v = {
            "query.parse_ms": med("query.parse"),
            "search.call_ms": med("search.call"),
            "search.call_jobs": med("search.call", attr="jobs"),
            "search.collect_ms": med("search.collect"),
            "search.collect_jobs": med("search.collect", attr="jobs"),
            "search.collect_stages": med("search.collect", attr="stages"),
            "search.collect_tasks": med("search.collect", attr="tasks"),
            "search.kernel_route_frac": (self.routed[0] / self.routed[1]
                                         if self.routed[1] else 0.0),
            "bench.op_self_ms": stats.median(
                [selfs[sp.id] for sp in tr.named("op")]),
            "spark.empty_job_ms": med("spark.empty_job"),
            "analysis.tokenize_ms": total("analysis.tokenize"),
            "analysis.tokens": self.info.get("tokens", 0),
            "indexer.create_index_ms": total("indexer.create_index"),
            "indexer.create_index_jobs": total("indexer.create_index",
                                               "jobs"),
            "indexer.build_docs_per_s": self.n_docs / self.steps["build_s"],
            "indexer.bytes": (self.info.get("index_bytes", 0)
                              - self.info.get("segment_bytes", 0)),
            "indexer.bytes_per_text_byte": (
                self.info.get("index_bytes", 0) / self.info["text_bytes"]
                if self.info.get("text_bytes") else 0.0),
            "segments.build_ms": total("segments.build"),
            "segments.build_jobs": total("segments.build", "jobs"),
            "segments.bytes": self.info.get("segment_bytes", 0),
            "segments.append_ms": total("segments.append"),
            "segments.append_docs_per_s": (
                self.steps["append_docs"] / self.steps["append_s"]
                if self.steps.get("append_s") else 0.0),
            "segments.delta_count": self.info.get("delta_count", 0),
            "segments.files": self.info.get("segment_files", 0),
            "segments.merge_ms": total("segments.merge"),
            "session.open_ms": total("session.open"),
            "trace.op_gmean_ms": stats.mix_gmean(self.traced_ms, self.tags),
            "trace.overhead_ms": (
                stats.mix_gmean(self.traced_ms, self.tags)
                - stats.mix_gmean(self.lat_ms, self.tags)),
        }
        for kind in metrics.KINDS:
            v[f"search.call_ms.{kind}"] = med("search.call", kind)
            v[f"search.collect_ms.{kind}"] = med("search.collect", kind)
            v[f"search.collect_jobs.{kind}"] = med("search.collect", kind,
                                                    "jobs")
        for layer in ("suggest", "spell", "collectors"):
            v[f"{layer}.call_ms"] = med(f"{layer}.call")
            v[f"{layer}.collect_ms"] = med(f"{layer}.collect")
            v[f"{layer}.collect_jobs"] = med(f"{layer}.collect",
                                             attr="jobs")
        for phase in metrics.PHASES:
            t = task.get(phase, {})
            per = n_ops if phase in ("call", "collect") else 1
            for m in ("run", "cpu", "gc"):
                v[f"spark.task_{m}_ms.{phase}"] = t.get(f"{m}_ms", 0.0) / per
        return metrics.values("per_layer", v)

    def job_phases(self) -> dict[int, str]:
        out = {}
        for sp in self.tr.spans:
            phase = PHASE_OF_SPAN.get(sp.name) or (
                sp.name.rsplit(".", 1)[1]
                if sp.name.endswith((".call", ".collect")) else None)
            for j in sp.jobs:
                if phase:
                    out[j] = phase
        return out

    def run(self) -> dict:
        try:
            getattr(self, self.workload.split("_", 1)[1])()
            if self.traced:
                self.tr.resolve_jobs()
        finally:
            if self.spark is not None:
                self._timed("stop_s", sparkhost.stop, self.spark)
        task = {}
        if self.traced:
            task = eventlog.read(self.event_dir, self.job_phases())
            os.makedirs(os.path.dirname(self.trace_path), exist_ok=True)
            self.tr.dump(self.trace_path, {"info": self.info,
                                           "task_metrics": task})
        shutil.rmtree(self.work, ignore_errors=True)
        self.steps["run_s"] = time.perf_counter() - self.t0
        lat = [x for xs in self.lat_ms.values() for x in xs]
        n = len(lat)
        tail = stats.tail_level(n)
        self.info.update(
            steps=self.steps, samples=n, checked=self.checked,
            failures=len(self.failures),
            op_tail={"p": tail, "ms": stats.percentile(lat, tail)
                     } if tail else None,
            failed_frac=len(self.failures) / max(1, self.attempted),
            slot_p50_ms={t: round(stats.median(v), 1)
                         for t, v in sorted(self.lat_ms.items())},
            op_ms=self.sequence)
        for f in self.failures:
            print(f, file=sys.stderr)
        print(json.dumps({"info": self.info}))
        return {
            "correct": not self.failures and self.attempted > 0,
            "attempted": self.attempted,
            "failed": len(self.failures),
            "metrics": (self.per_layer(task) if self.traced
                        else self.end_to_end()),
        }
