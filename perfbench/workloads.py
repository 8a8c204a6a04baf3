"""The benchmark workloads.

Each workload is one client in a closed loop: it sends its next
request only after the previous one has returned and been collected.
Set-up (corpus generation, index build, searcher open and persist) is
timed apart from the loop and repeated ``SETUP_REPS`` times. Warm-up
requests run for ``WARM_S`` seconds on terms kept out of the measured
pool, so JIT and Python-worker start-up finish before timing while the
df, filter, docset and facet caches stay empty (``select_facets`` then
fills the entries of its own key; see its ``setup``). The loop ends on
a whole round of its request mix. Outputs are checked against
:mod:`oracle` after the loop, outside every timed region.

``serve_bm25`` and ``select_facets`` are the measured workloads.
``IngestUpdate`` and ``DedupBatch`` run once, as probes, after the loop
of a traced run, so the build, deletes, merge and textpipe layers are
measured too.
"""

from __future__ import annotations

import os
import statistics
import time

import numpy as np

import corpus
from oracle import Bm25Oracle, DedupOracle

from lucene_solr_spark.query.model import BooleanSpec

SETUP_REPS = 3
#: seconds of warm-up requests before the measured loop: request
#: latency keeps falling for about this long after the first request
#: (JVM JIT), so a shorter warm-up leaves the loop timing that descent
WARM_S = 10.0
#: transcripts corpus size and input files (= segments) per index workload
N_TURNS = 3_000
N_PARTS = 4
#: document sample size of the dedup workload
N_DOCS = 500
#: BM25 request shapes, sent round-robin so every run has the same mix
SHAPES = ("term", "and", "or_mm", "phrase", "filtered")


def pct(values: list[float], q: float) -> float:
    """Percentile (q in 0..100), linear between the nearest ranks."""
    return float(np.percentile(values, q))


class Workload:
    """Shared loop, tracing, accounting and reporting."""

    name = ""
    #: corpus of the index workloads: turns, vocabulary, input files
    TURNS, VOCAB, PARTS = N_TURNS, corpus.VOCAB, N_PARTS

    def __init__(self, spark, tracer, work: str, seed: int, seconds: float, cores: int):
        self.spark, self.tracer, self.work = spark, tracer, work
        self.seed, self.seconds, self.cores = seed, seconds, cores
        self.rng = np.random.default_rng(seed)
        self.trace = tracer.enabled
        self.attempted = self.failed = self.wrong = 0
        self.reads: list[float] = []  # untraced read-request latencies (ms)
        self.traced_reads: list[float] = []
        self.empty = 0
        self.keys_seen: set = set()
        self.repeats = 0
        self.detail: dict = {}
        self.layer: dict = {}
        self.setup_times: list[float] = []
        self.probes: list[Workload] = []

    def input_size(self) -> dict:
        return {"turns": self.TURNS, "vocab": self.VOCAB, "input_files": self.PARTS}

    # -- helpers -------------------------------------------------------
    def span(self, name: str, request: str | None = None):
        return self.tracer.span(name, request)

    def request(self, kind: str, i: int, fn, key=None):
        """Run one closed-loop request; in a traced run every second
        request is traced, the others give the untraced baseline.
        ``key`` identifies what the engine may cache for the request."""
        self.tracer.enabled = self.trace and i % 2 == 1
        self.attempted += 1
        self.repeats += key in self.keys_seen
        self.keys_seen.add(key)
        t0 = time.perf_counter()
        try:
            with self.span(kind, f"{kind}-{i}") as s:
                out = fn()
        except Exception as e:  # a failed request is counted, the loop goes on
            self.failed += 1
            print(f"request {kind}-{i} failed: {e!r}", flush=True)
            out, s = None, None
        ms = (time.perf_counter() - t0) * 1e3
        if out is not None:
            (self.traced_reads if self.tracer.enabled else self.reads).append(ms)
        self.tracer.enabled = self.trace
        return out, ms

    def loop(self, seconds: float, step, period: int = 1, more=lambda: True) -> None:
        """Call ``step(i)`` for ``seconds``, ending on a whole number of
        ``period`` steps (so every run has the same request mix) and
        before a round for which ``more()`` is false."""
        t_end = time.perf_counter() + seconds
        i = 0
        while (i == 0 or time.perf_counter() < t_end) and more():
            for _ in range(period):
                step(i)
                i += 1

    def warm_up(self, request, period: int, more=lambda: True) -> None:
        """Untraced ``request(i)`` calls for ``WARM_S`` seconds, in the
        loop's rounds; their latencies go on the detail line."""
        warm_ms = []

        def step(i):
            t0 = time.perf_counter()
            request(i)
            warm_ms.append(round((time.perf_counter() - t0) * 1e3, 1))

        traced, self.tracer.enabled = self.tracer.enabled, False
        self.loop(WARM_S, step, period, more)
        self.tracer.enabled = traced
        self.detail["warmup_ms"] = warm_ms

    def job_floor_ms(self) -> float:
        """Median wall time of a no-op Spark job in this session."""
        ts = []
        for _ in range(5):
            t0 = time.perf_counter()
            self.spark.range(0, 1, 1, 1).collect()
            ts.append((time.perf_counter() - t0) * 1e3)
        return statistics.median(ts)

    def check(self, ok: bool, what: str) -> None:
        if not ok:
            self.wrong += 1
            print(f"wrong result: {what}", flush=True)

    # -- index set-up shared by the three index workloads -----------------
    def build_index(self, rep: int):
        from lucene_solr_spark.index.build import build_index_prepartitioned
        from lucene_solr_spark.query.executor import IndexSearcher

        t0 = time.perf_counter()
        with self.span("setup", f"setup-{rep}"):
            pdf = corpus.transcripts(self.seed, self.TURNS, self.VOCAB)
            src = f"{self.work}/{self.name}-corpus{rep}"
            corpus.write_parts(pdf, src, self.PARTS)
            root = f"{self.work}/{self.name}-index{rep}"
            conf = self.spark.conf
            cost = conf.get("spark.sql.files.openCostInBytes")
            # one input file per scan partition, so one file = one segment
            conf.set("spark.sql.files.openCostInBytes", conf.get("spark.sql.files.maxPartitionBytes"))
            try:
                tb = time.perf_counter()
                with self.span("index.build"):
                    m = build_index_prepartitioned(self.spark, self.spark.read.parquet(src), root)
                build_s = time.perf_counter() - tb
            finally:
                conf.set("spark.sql.files.openCostInBytes", cost)
            to = time.perf_counter()
            with self.span("executor.open"):
                s = IndexSearcher(self.spark, root)
            tp = time.perf_counter()
            with self.span("executor.persist"):
                s.persist()
            tend = time.perf_counter()
        self.setup_times.append(tend - t0)
        self.detail.setdefault("build_s", []).append(build_s)
        self.layer.setdefault("executor.open_ms", []).append((tp - to) * 1e3)
        self.layer.setdefault("executor.persist_ms", []).append((tend - tp) * 1e3)
        segs = m.segments.values()
        self.index_stats = {
            "segments": len(segs),
            "bytes": sum(g["bytes"] for g in segs),
            "postings": sum(g["n_postings"] for g in segs),
            "text_bytes": int(pdf["text"].str.len().sum()),
        }
        return pdf, root, s

    def setup_index(self, reps: int = SETUP_REPS):
        """``reps`` timed builds of the workload corpus (the first pays
        JVM JIT and Python-worker start-up); the last one serves. The
        request terms come from the corpus's df bands."""
        self.pool = corpus.df_bands(corpus.transcripts(self.seed, self.TURNS, self.VOCAB))
        for rep in range(reps):
            self.spark.catalog.clearCache()
            self.corpus, self.root, self.searcher = self.build_index(rep)
        self.detail["setup_reps_s"] = [round(t, 3) for t in self.setup_times]

    def build_layer_replay(self, pdf) -> None:
        """Driver-side replay of the build's per-segment steps on one
        input file's worth of turns (traced runs only)."""
        if not self.trace:
            return
        from lucene_solr_spark.analyzer import tokenize_pandas
        from lucene_solr_spark.index.build import build_segment_pdf, write_segment

        part = pdf.iloc[: len(pdf) // self.PARTS]
        kturn = len(part) / 1e3
        t0 = time.perf_counter()
        with self.span("analyzer.tokenize_pandas", "replay"):
            tokenize_pandas(part["text"])
        t1 = time.perf_counter()
        with self.span("index.build_segment_pdf", "replay"):
            seg = build_segment_pdf(part, seg_id=0)
        t2 = time.perf_counter()
        with self.span("index.write_segment", "replay"):
            write_segment(seg, f"{self.work}/replay_seg")
        t3 = time.perf_counter()
        self.layer["analyzer.tokenize_ms_per_kturn"] = (t1 - t0) * 1e3 / kturn
        self.layer["build.segment_ms_per_kturn"] = (t2 - t1) * 1e3 / kturn
        self.layer["build.write_ms_per_kturn"] = (t3 - t2) * 1e3 / kturn
        ideal_s = (t3 - t1) * self.PARTS / min(self.cores, self.PARTS)
        self.layer["build.spark_overhead_share"] = max(
            0.0, 1 - ideal_s / statistics.median(self.detail["build_s"]))

    def index_detail(self) -> None:
        st = self.index_stats
        self.detail["build_turns_per_s"] = self.TURNS / statistics.median(self.detail.pop("build_s"))
        self.detail["index_bytes_per_input_byte"] = st["bytes"] / st["text_bytes"]
        self.layer["codec.bytes_per_posting"] = st["bytes"] / st["postings"]
        self.layer["executor.waves"] = st["segments"] / self.cores

    # -- BM25 request generation -----------------------------------------
    def bm25_request(self, rng, bands, i: int):
        """(query string, parse function, reference spec) of request ``i``
        from the df bands and the phrase fixture. Its shape (term / AND /
        OR-mm / phrase / role- or tool-filtered), the term shape's band,
        the phrase length and the filter kind cycle with ``i``, so runs
        of one length send the same mix; terms and filter values come
        from ``rng``."""
        from lucene_solr_spark.query.parser import edismax, parse

        shape, r = SHAPES[i % len(SHAPES)], i // len(SHAPES)

        def pick(band):
            # drawn without replacement, so no term repeats and no df
            # cache entry is hit twice
            return str(bands[band].pop(int(rng.integers(len(bands[band])))))

        if shape == "term":
            t = pick(("head", "mid", "tail")[r % 3])
            return t, lambda: parse(t, k=10), BooleanSpec(must=(t,), k=10)
        if shape == "and":
            a, b = pick("head"), pick("mid")
            return (f"{a} {b}", lambda: parse(f"{a} {b}", k=10, default_op="AND"),
                    BooleanSpec(must=(a, b), k=10))
        if shape == "or_mm":
            ts = (pick("head"), pick("mid"), pick("mid"))
            q = " ".join(ts)
            return (q, lambda: edismax(q, k=10, mm=2, pf=False),
                    BooleanSpec(should=ts, min_should_match=2, k=10))
        if shape == "phrase":
            n = 2 + r % 3
            at = int(rng.integers(0, len(corpus.PHRASE) - n + 1))
            ph = corpus.PHRASE[at:at + n]
            t = pick("head")
            q = f'+{t} +"{" ".join(ph)}"'
            return q, lambda: parse(q, k=10), BooleanSpec(must=(t,), phrases=(ph,), k=10)
        t = pick(("head", "mid")[r % 2])
        if r // 2 % 2 == 0:
            fq = ("role", str(corpus.ROLES[int(rng.integers(4))]))
        else:
            fq = ("tool", f"tool_{int(rng.integers(1, 200)) // 5 * 5 + 1}")
        q = f"+{t} {fq[0]}:{fq[1]}"
        return q, lambda: parse(q, k=10), BooleanSpec(must=(t,), filters=(fq,), k=10)

    def search(self, searcher, parse_fn):
        """One BM25 read request: parse, df probe, search + collect."""
        with self.span("parser.parse"):
            spec = parse_fn()
        if self.tracer.enabled:
            with self.span("executor.global_df"):
                searcher.global_df(list(spec.lookup_terms))
        with self.span("executor.search"):
            rows = searcher.search(spec, round_to=4).collect()
        return [(r.conv_id, int(r.turn_idx), round(float(r.score), 4)) for r in rows]

    # -- probes (traced runs only) --------------------------------------
    #: probes run once, after the measured loop of a traced run, so
    #: that the layers this workload's loop does not reach are measured
    PROBES: tuple = ()

    def run_probes(self) -> None:
        for cls in self.PROBES:
            p = cls(self.spark, self.tracer, self.work, self.seed, 0, self.cores)
            with self.span(f"probe.{cls.name}", "probe"):
                p.setup()
                p.run()
            self.probes.append(p)

    def verify_probes(self) -> None:
        for p in self.probes:
            p.verify()
            self.attempted += p.attempted
            self.failed += p.failed
            self.wrong += p.wrong
            for k, v in p.layer.items():
                self.layer.setdefault(k, statistics.median(v) if isinstance(v, list) else v)
            p.detail["error_rate"] = (p.failed + p.wrong) / max(1, p.attempted)
            self.detail.setdefault("probe", {})[p.name] = {"input": p.input_size(), **p.detail}

    # -- reporting -----------------------------------------------------
    def finish(self) -> dict:
        lat = self.reads or self.traced_reads
        self.detail["latency_p50_ms"] = pct(lat, 50)
        self.detail["latency_p90_ms"] = pct(lat, 90)
        self.detail["latency_samples"] = len(lat)
        self.detail["latencies_ms"] = [round(x, 1) for x in lat]
        self.detail["error_rate"] = (self.failed + self.wrong) / max(1, self.attempted)
        n = max(1, len(self.reads) + len(self.traced_reads))
        self.detail["empty_result_share"] = self.layer["executor.empty_result_share"] = self.empty / n
        self.detail["repeat_share"] = self.layer["handler.repeat_share"] = self.repeats / n
        for k, v in list(self.layer.items()):
            if isinstance(v, list):
                self.layer[k] = statistics.median(v)
        if self.trace and self.reads and self.traced_reads:
            self.layer["trace.overhead_ms"] = pct(self.traced_reads, 50) - pct(self.reads, 50)
        return self.detail


class IngestUpdate(Workload):
    """Probe: delete rounds (deleteByQuery, then delete by ids), each
    committed, reopened and read through the tombstone mask, then
    ``merge_segments``, reopen and reads."""

    name = "ingest_update"
    #: merge_segments runs one Python group per (term, salt): a small
    #: vocabulary keeps the merge short
    TURNS, VOCAB, PARTS = 2_000, 300, 4
    DELETE_ROUNDS = 2
    #: untraced reads of the fixed query per searcher
    READS = 3

    def setup(self):
        self.setup_index(reps=1)
        self.fixed = BooleanSpec(must=(self.pool["head"][0],), k=10)

    def term_keys(self, term: str) -> set:
        """Keys of the turns whose text holds ``term`` (what a
        deleteByQuery on that term removes)."""
        hit = self.corpus["text"].map(lambda t: term in t.split())
        c = self.corpus[hit]
        return set(zip(c["conv_id"], c["turn_idx"].astype(int)))

    def reopen(self):
        from lucene_solr_spark.query.executor import IndexSearcher

        with self.span("executor.open"):
            return IndexSearcher(self.spark, self.root)

    def read_fixed(self) -> list[float]:
        """``READS`` untraced runs of one fixed head-term query on the
        current searcher; their outputs are checked after the run."""
        traced, self.tracer.enabled = self.tracer.enabled, False
        ms = []
        for _ in range(self.READS):
            self.attempted += 1
            t0 = time.perf_counter()
            rows = self.searcher.search(self.fixed, round_to=4).collect()
            ms.append((time.perf_counter() - t0) * 1e3)
            out = [(r.conv_id, int(r.turn_idx), round(float(r.score), 4)) for r in rows]
            self.seen.append((self.fixed, frozenset(self.deleted), out))
        self.tracer.enabled = traced
        return ms

    def run(self):
        from lucene_solr_spark.index.deletes import delete_by_ids, delete_by_query
        from lucene_solr_spark.index.merge import merge_segments

        self.seen = []  # (reference spec, deleted keys at the time, rows)
        self.deleted: set = set()
        visible, pre, post = [], self.read_fixed(), []
        for rnd in range(self.DELETE_ROUNDS):
            # the least frequent term of the lowest band the corpus has
            term = (self.pool["tail"] or self.pool["mid"] or self.pool["head"]).pop()
            victims = self.term_keys(term)
            spec = BooleanSpec(must=(term,), k=10)
            self.attempted += 1
            t0 = time.perf_counter()
            with self.span("deletes.commit", f"delete-{rnd}"):
                if rnd % 2 == 0:
                    delete_by_query(self.spark, self.root, spec)
                else:
                    delete_by_ids(self.spark, self.root, sorted(victims))
            td = time.perf_counter()
            self.deleted |= victims
            self.searcher = self.reopen()
            with self.span("executor.search"):
                rows = self.searcher.search(spec, round_to=4).collect()
            visible.append((time.perf_counter() - t0) * 1e3)
            self.layer.setdefault("deletes.commit_ms", []).append((td - t0) * 1e3)
            got = {(r.conv_id, int(r.turn_idx)) for r in rows}
            self.check(not (got & self.deleted), f"deleted keys visible after reopen ({term})")
            post += self.read_fixed()

        segs_before = len(self.searcher.manifest.segments)
        self.attempted += 1
        t0 = time.perf_counter()
        with self.span("index.merge_segments", "merge"):
            m = merge_segments(self.spark, self.root)
            self.searcher = self.reopen()
        self.detail["merge_s"] = time.perf_counter() - t0
        self.layer["merge.segments_before"] = segs_before
        self.layer["merge.segments_after"] = len(m.segments)
        self.layer["merge.bytes_rewritten"] = sum(g["bytes"] for g in m.segments.values())
        self.read_fixed()
        self.detail["delete_visible_ms"] = statistics.median(visible)
        self.detail["delete_rounds"] = len(visible)
        self.layer["executor.tombstone_slowdown"] = statistics.median(post) / statistics.median(pre)

    def verify(self):
        o = Bm25Oracle(self.corpus, self.work)
        for ref, deleted, out in self.seen:
            self.check(out == o.top(ref, deleted), f"bm25 top-k after deletes {ref}")
        self.index_detail()


class DedupBatch(Workload):
    """Probe: ``q_dedup_ngram_jaccard`` then ``q_dedup_clusters`` on a
    seeded document sample."""

    name = "dedup_batch"
    #: operator -> the figure of its wall time
    OPS = {"q_dedup_ngram_jaccard": "dedup_jaccard_s", "q_dedup_clusters": "dedup_clusters_s"}

    def input_size(self) -> dict:
        return {"docs": N_DOCS}

    def setup(self):
        import pyarrow as pa
        import pyarrow.parquet as pq

        self.sample_dir = f"{self.work}/docs_probe"
        self.docs = corpus.documents(self.seed, N_DOCS)
        os.makedirs(self.sample_dir, exist_ok=True)
        pq.write_table(pa.Table.from_pandas(self.docs, preserve_index=False),
                       f"{self.sample_dir}/documents.parquet")

    def run(self):
        from lucene_solr_spark.operators import textpipe

        self.outputs = {}
        for name in self.OPS:
            self.attempted += 1
            t0 = time.perf_counter()
            with self.span(f"textpipe.{name}"):
                rows = getattr(textpipe, name)(self.spark, self.sample_dir).collect()
            self.detail[self.OPS[name]] = time.perf_counter() - t0
            self.outputs[name] = sorted(
                tuple(round(v, 4) if isinstance(v, float) else v for v in r) for r in rows)
        self.layer["textpipe.output_rows"] = sum(map(len, self.outputs.values()))

    def verify(self):
        o = DedupOracle(self.docs, self.work)
        for name in self.OPS:
            self.check(self.outputs[name] == o.rows(name), f"{name} rows")


class ServeBm25(Workload):
    name = "serve_bm25"
    PROBES = (DedupBatch,)

    def setup(self):
        self.setup_index()
        self.build_layer_replay(self.corpus)
        # a seeded third of each band warms up, apart from the measured
        # pool; both keep the band's df order
        warm_pool = {}
        for band, terms in self.pool.items():
            warm = set(self.rng.permutation(len(terms))[:len(terms) // 3].tolist())
            warm_pool[band] = [t for i, t in enumerate(terms) if i in warm]
            self.pool[band] = [t for i, t in enumerate(terms) if i not in warm]
        wrng = np.random.default_rng(self.seed + 1)

        def warm(i):
            _, fn, _ = self.bm25_request(wrng, warm_pool, i)
            self.searcher.search(fn(), round_to=4).collect()

        self.warm_up(warm, len(SHAPES), lambda: self.pool_left(warm_pool))

    #: most terms one round of SHAPES draws from each band
    ROUND_NEED = {"head": 5, "mid": 5, "tail": 1}

    def pool_left(self, pool) -> bool:
        """Whether ``pool`` still holds the terms of one more round."""
        return all(len(pool[b]) >= n for b, n in self.ROUND_NEED.items())

    def run(self):
        self.seen = []

        def step(i):
            q, fn, ref = self.bm25_request(self.rng, self.pool, i)
            out, _ = self.request("bm25", i, lambda: self.search(self.searcher, fn), q)
            if out is not None:
                self.empty += not out
                self.seen.append((ref, out))

        self.loop(self.seconds, step, len(SHAPES), lambda: self.pool_left(self.pool))

    def verify(self):
        o = Bm25Oracle(self.corpus, self.work)
        for ref, out in self.seen:
            self.check(out == o.top(ref), f"bm25 top-k {ref}")
        self.index_detail()


class SelectFacets(Workload):
    name = "select_facets"
    PROBES = (IngestUpdate,)
    #: a leg on the high-cardinality ftok field costs about 1.5 times
    #: as much and leaves too few requests in a run for a steady p90
    FACET = "role"

    def make_keys(self) -> tuple[tuple[str, str, str], ...]:
        """The measured key and the warm-up key, each (head term, head
        term, role): four distinct terms from ranks 12-36 of the head
        band (each in a sixth to a third of the turns), so every seed's
        keys match a like share, with both result pages filled."""
        terms = self.rng.choice(self.pool["head"][12:36], 4, replace=False).tolist()
        roles = self.rng.choice(corpus.ROLES, 2).tolist()
        return (terms[0], terms[1], roles[0]), (terms[2], terms[3], roles[1])

    @staticmethod
    def params(key, i: int) -> dict:
        """Request ``i`` on ``key``: page 1 or 2 of the turns holding both
        terms whose role is not the key's, and a ``facet.field`` leg on
        ``FACET``."""
        a, b, role = key
        return {"q": f"{a} {b}", "q.op": "AND", "fq": f"-role:{role}",
                "start": i % 2 * 10, "rows": 10, "facet.field": SelectFacets.FACET, "facet.limit": 10}

    def setup(self):
        self.setup_index()
        self.build_layer_replay(self.corpus)
        self.key, warm_key = self.make_keys()
        # Unlike serve_bm25, this workload measures the cache-hit path:
        # after warm-up requests for both pages of another key, one
        # request fills the measured key's filter and docset cache
        # entries.
        self.warm_up(lambda i: self.select(self.params(warm_key, i)), 2)
        traced, self.tracer.enabled = self.tracer.enabled, False
        self.select(self.params(self.key, 0))
        self.keys_seen.add(self.key)
        self.tracer.enabled = traced

    def select(self, p):
        from lucene_solr_spark.handler import parse_select_params, select

        if self.tracer.enabled:
            with self.span("parser.parse_select_params"):
                parse_select_params(p)
        with self.span("handler.select"):
            out = select(self.searcher, p)
        with self.span("handler.page_collect"):
            page = [(r.conv_id, int(r.turn_idx), round(float(r.score), 4))
                    for r in out["response"].collect()]
        with self.span("handler.facet_collect"):
            facet = [(str(r[0]), int(r[1])) for r in out["facet_counts"][self.FACET].collect()]
        return page, int(out["numFound"]), facet

    def run(self):
        self.seen = []

        def step(i):
            p = self.params(self.key, i)
            out, _ = self.request("select", i, lambda: self.select(p), self.key)
            if out is not None:
                self.empty += not out[0]
                self.seen.append((p, out))

        self.loop(self.seconds, step, 2)

    def verify(self):
        o = Bm25Oracle(self.corpus, self.work)
        a, b, role = self.key
        spec = BooleanSpec(must=(a, b), not_filters=(("role", role),), k=10)
        want_num, want_facet = o.count(spec), o.facet(spec, self.FACET, 10)
        pages = {s: o.top(spec, start=s) for s in (0, 10)}
        for p, (page, num, facet) in self.seen:
            self.check(page == pages[p["start"]], f"select page {p}")
            self.check(num == want_num, f"select numFound {p}")
            self.check(facet == want_facet, f"select facets {p}")
        self.index_detail()


WORKLOADS = {w.name: w for w in (ServeBm25, SelectFacets)}
