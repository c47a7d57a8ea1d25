"""One benchmark run of the index-build + BM25 serving core.

Started by ``run.py``, which gives it a fresh work directory and kills it
if it hangs.  Everything the program sees is generated from ``--seed``:
pages from ``apache___solr_spark.corpus`` and queries from ``querygen``.

Workloads (see README.md for sizes and the metric predictions):

- ``serve``: a cold ``build_index`` of the base pages, then two
  closed-loop clients query a warm ``SearchEngine`` for the window; one
  write cycle after the window gives the update metrics.
- ``update_mix``: a smaller base index; for the window one writer loops
  add_docs / delete_docs / reopen while two readers query the newest engine.

Every answer is recorded during the window and checked against the
(remapped) oracle after it.  The last stdout line is the JSON result.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import threading  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

import numpy as np  # noqa: E402
import pyarrow as pa  # noqa: E402
import pyarrow.parquet as pq  # noqa: E402

from measure import RssSampler, Tracer, tail  # noqa: E402

WORKLOADS = {
    "serve": {"base_docs": 2000, "readers": 2, "writer": False},
    "update_mix": {"base_docs": 1000, "readers": 2, "writer": True},
}
WARM_QUERIES = 1  # run alone before the window; gives query.engine.first_query_ms
DOCS_PER_FILE = 500  # input files, so the scan has more splits than cores
BATCH_DOCS = 300  # pages per add_docs call
DELETES_PER_CYCLE = 30
MAX_CYCLES = 8  # batches generated up front for the update_mix writer
SERVE_WRITE_CYCLES = 1  # write cycles after the serve window
STREAM_ROUNDS = 20  # rounds of every query shape; the window uses a prefix
PHRASE_SAMPLE = 200  # pages whose adjacent tokens seed phrase queries
ANALYSIS_SAMPLE = 300  # pages analyzed in-process for the analysis layer
BUILD_STAGES = ("analyzed_raw", "numbering", "docs", "postings", "dictionary")

# name -> unit; the order is the print order.  BENCHMARK.json declares the same.
END_TO_END = {
    "setup_s": "s",
    "build_docs_per_s": "docs/s",
    "index_bytes_per_input_byte": "ratio",
    "query_p50_ms": "ms",
    "query_tail_ms": "ms",
    "query_qps": "1/s",
    "add_docs_per_s": "docs/s",
    "visible_ms": "ms",
    "ok_share": "ratio",
}
SPAN_LAYERS = {
    "session.get_spark": "session",
    "index.builder.build_index": "index.builder",
    "query.engine.open": "query.engine",
    "query.engine.search": "query.engine",
    "query.parser.parse_query_tree": "query.parser",
    "index.updates.add_docs": "index.updates",
    "index.updates.delete_docs": "index.updates",
}


def per_layer_units() -> dict[str, str]:
    from querygen import SHAPES

    units = {
        "session.start_s": "s",
        "analysis.docs_per_s": "docs/s",
        "analysis.tokens_per_doc": "tokens",
    }
    units.update({f"index.builder.{s}_s": "s" for s in BUILD_STAGES})
    units.update(
        {
            "index.builder.spark_jobs": "count",
            "index.builder.spark_tasks": "count",
            "index.builder.postings_bytes": "bytes",
            "index.builder.analyzed_raw_bytes": "bytes",
            "index.codec.bytes_per_posting": "bytes",
            "index.codec.decode_mb_per_s": "MB/s",
            "index.codec.encode_mb_per_s": "MB/s",
            "query.parser.parse_us": "us",
            "query.engine.open_ms": "ms",
            "query.engine.first_query_ms": "ms",
        }
    )
    units.update({f"query.engine.search_p50_ms.{s}": "ms" for s in SHAPES})
    units["query.engine.jobs_per_query"] = "count"
    units["query.engine.tasks_per_query"] = "count"
    units.update({f"query.engine.jobs_per_query.{s}": "count" for s in SHAPES})
    units.update(
        {
            "query.stream.repeat_term_share": "ratio",
            "index.updates.add_docs_ms": "ms",
            "index.updates.delete_docs_ms": "ms",
            "index.updates.add_docs_jobs": "count",
            "index.updates.postings_files": "count",
            "index.updates.dictionary_rows_per_term": "ratio",
            "spark.failed_tasks": "count",
            "tracing.overhead_pct": "%",
            "process.peak_rss_mb": "MB",
        }
    )
    units.update({f"self_s.{layer}": "s" for layer in sorted(set(SPAN_LAYERS.values()))})
    return units


def dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total


def dir_files(path: str) -> int:
    return sum(len(files) for _root, _dirs, files in os.walk(path))


class Batch:
    """A seeded add_docs batch: unique urls and a marker token in every
    page, so a query for the marker shows when the batch became visible."""

    def __init__(self, work: str, seed: int, cycle: int) -> None:
        from apache___solr_spark.corpus import generate_pages

        self.marker = f"fresh{seed}x{cycle}"
        t = generate_pages(BATCH_DOCS, seed=seed * 1000 + 500 + cycle)
        urls = [f"https://batch{cycle}.example/p/{seed}/{j}" for j in range(t.num_rows)]
        html = [
            h.replace(b"<body>", f"<body><p>{self.marker}</p>".encode(), 1)
            for h in t.column("html").to_pylist()
        ]
        text = [None if s is None else f"{self.marker} {s}" for s in t.column("text").to_pylist()]
        t = t.set_column(0, "url", pa.array(urls, pa.string()))
        t = t.set_column(2, "html", pa.array(html, pa.binary()))
        t = t.set_column(3, "text", pa.array(text, pa.string()))
        self.path = os.path.join(work, "batches", f"batch-{cycle:03d}.parquet")
        os.makedirs(os.path.dirname(self.path), exist_ok=True)
        pq.write_table(t, self.path)
        self.rows = t.select(["url", "html", "text"]).to_pylist()


class Run:
    def __init__(self, args) -> None:
        self.args = args
        self.work = args.work
        self.cfg = WORKLOADS[args.workload]
        self.tracer = Tracer(bool(args.trace))
        self.readers = 1 if args.trace else self.cfg["readers"]
        self.answers: list[tuple] = []  # (generation, query, k, rows)
        self.errors: list[str] = []
        self.attempted = 0
        self.lock = threading.Lock()
        self.window_lat: list[float] = []  # seconds per window query
        self.writes: list[dict] = []
        self.generation = 0
        self.engine = None
        self.n_docs = 0
        self.deleted: set[int] = set()

    # -- program calls, timed and traced from outside ---------------------
    def query(self, q: dict, record_latency: bool) -> None:
        with self.lock:
            eng, gen = self.engine, self.generation
        with self.tracer.span("query.engine.search", trace_id=f"q{q['qid']}", spark=True) as sp:
            t = time.perf_counter()
            try:
                rows = eng.search(q["query"], k=q["k"]).collect()
            except Exception as e:  # noqa: BLE001 - a failed query is counted, the run goes on
                with self.lock:
                    self.attempted += 1
                    self.errors.append(f"query {q['query']!r} raised {e!r}"[:300])
                return
            dt = time.perf_counter() - t
        if sp is not None and record_latency:
            sp["shape"] = q["shape"]
        with self.lock:
            self.answers.append((gen, q["query"], q["k"], [(r.doc_id, r.url, r.score) for r in rows]))
            if record_latency:
                self.window_lat.append(dt)

    def write_cycle(self, cycle: int, batch: Batch) -> bool:
        """add_docs, delete_docs, reopen and a query for the batch marker.
        Returns False (and records the failure) when a call raised."""
        try:
            self._write_cycle(cycle, batch)
        except Exception as e:  # noqa: BLE001 - a failed write is counted, the run goes on
            with self.lock:
                self.attempted += 1
                self.errors.append(f"write cycle {cycle} raised {e!r}"[:300])
            return False
        return True

    def _write_cycle(self, cycle: int, batch: Batch) -> None:
        from apache___solr_spark.index.updates import add_docs, delete_docs
        from apache___solr_spark.query.engine import SearchEngine

        pages = self.spark.read.parquet(batch.path)
        base_n = self.n_docs
        live = sorted(set(range(base_n)) - self.deleted)
        rng = np.random.default_rng([self.args.seed, 0xDE1, cycle])
        doomed = sorted(int(i) for i in rng.choice(live, size=DELETES_PER_CYCLE, replace=False))
        trace = f"w{cycle}"
        t0 = time.perf_counter()
        with self.tracer.span("index.updates.add_docs", trace_id=trace, spark=True):
            added = add_docs(self.spark, self.index_dir, pages)
        t_add = time.perf_counter() - t0
        with self.tracer.span("index.updates.delete_docs", trace_id=trace, spark=True):
            delete_docs(self.spark, self.index_dir, doc_ids=doomed)
        with self.tracer.span("query.engine.open", trace_id=trace, spark=True):
            eng = SearchEngine(self.spark, self.index_dir)
        with self.tracer.span("query.engine.search", trace_id=trace, spark=True):
            rows = eng.search(batch.marker, k=10).collect()
        visible = time.perf_counter() - t0
        self.n_docs = base_n + added
        self.deleted.update(doomed)
        got = [(r.doc_id, r.url, r.score) for r in rows]
        with self.lock:
            self.generation += 1
            self.engine = eng
            self.answers.append((self.generation, batch.marker, 10, got))
            self.writes.append(
                {"added": added, "add_s": t_add, "visible_s": visible, "deleted": doomed, "batch": batch}
            )
            if added != BATCH_DOCS or not got or min(d for d, _u, _s in got) < base_n:
                self.errors.append(f"write cycle {cycle}: added {added}, marker query {got[:3]}")

    # -- phases -----------------------------------------------------------
    def run(self) -> dict:
        a, work = self.args, self.work
        from apache___solr_spark.corpus import write_pages_parquet

        # inputs (not part of set-up time)
        t_gen = time.perf_counter()
        self.pages_dir = os.path.join(work, "pages")
        write_pages_parquet(self.pages_dir, self.cfg["base_docs"], seed=a.seed, docs_per_file=DOCS_PER_FILE)
        n_batches = MAX_CYCLES if self.cfg["writer"] else SERVE_WRITE_CYCLES
        self.batches = [Batch(work, a.seed, c) for c in range(n_batches)]
        sample = self.page_sample(max(PHRASE_SAMPLE, ANALYSIS_SAMPLE))
        from apache___solr_spark.analysis.chain import analyze, extract_text
        from querygen import query_stream, stream_summary

        phrase_docs = [analyze(extract_text(r["html"], r["text"])) for r in sample[:PHRASE_SAMPLE]]
        queries = query_stream(a.seed, STREAM_ROUNDS + 1, phrase_docs)
        n_shapes = len(queries) // (STREAM_ROUNDS + 1)
        warm, stream = queries[:WARM_QUERIES], queries[n_shapes:]
        gen_s = time.perf_counter() - t_gen

        with RssSampler() as rss:
            setup = self.setup(warm)
            stream_used = self.window(stream, n_shapes)
        setup["peak_rss_mb"] = rss.peak_bytes / 2**20
        t_window_end = time.perf_counter()
        if not self.cfg["writer"]:
            for cycle, batch in enumerate(self.batches):
                self.write_cycle(cycle, batch)
        layer = self.layer_probes(sample[:ANALYSIS_SAMPLE]) if a.trace else {}
        self.spark.stop()

        t_check = time.perf_counter()
        self.verify()
        summary = stream_summary(stream_used, before=warm)
        log(
            f"{a.workload} seed={a.seed}: inputs {gen_s:.1f}s, check {time.perf_counter() - t_check:.1f}s, "
            f"stream {summary['per_shape']} repeat_term_share={summary['repeat_term_share']:.2f}"
        )
        if a.trace:
            metrics = self.per_layer(setup, layer, summary, t_window_end)
            self.tracer.write(
                os.path.join(ROOT, ".perfbench", "traces", f"{a.workload}-seed{a.seed}.jsonl"), T_START
            )
        else:
            metrics = self.end_to_end(setup)
        return metrics

    def page_sample(self, n: int) -> list[dict]:
        rng = np.random.default_rng([self.args.seed, 0x5A])
        rows = pq.read_table(self.pages_dir, columns=["url", "html", "text"]).to_pylist()
        return [rows[int(i)] for i in rng.choice(len(rows), size=min(n, len(rows)), replace=False)]

    def setup(self, warm: list[dict]) -> dict:
        tr = self.tracer
        self.t_setup0 = t = time.perf_counter()
        from apache___solr_spark.index.builder import build_index
        from apache___solr_spark.query.engine import SearchEngine
        from apache___solr_spark.session import get_spark

        if tr.enabled:
            self.patch_parser()
        s = {"import_s": time.perf_counter() - t}
        t = time.perf_counter()
        with tr.span("session.get_spark"):
            self.spark = get_spark(
                "perfbench",
                cores=len(os.sched_getaffinity(0)),
                extra_conf={
                    "spark.ui.showConsoleProgress": "false",
                    # no hsperfdata files in /tmp
                    "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.environ['TMPDIR']} -XX:-UsePerfData",
                    "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
                },
            )
        s["session_s"] = time.perf_counter() - t
        tr.sc = self.spark.sparkContext

        self.index_dir = os.path.join(self.work, "index")
        t = time.perf_counter()
        with tr.span("index.builder.build_index", spark=True) as sp:
            build_index(self.spark, self.pages_dir, self.index_dir, resume=False)
        s["build_s"] = time.perf_counter() - t
        s["build_span"] = sp

        # the build's own answers, collected now (before any write) and
        # checked after the window
        with open(os.path.join(self.index_dir, "stats.json")) as f:
            self.build_stats = json.load(f)
        self.build_docs = [
            tuple(r)
            for r in self.spark.read.parquet(os.path.join(self.index_dir, "docs"))
            .select("doc_id", "url", "doclen", "norm_byte")
            .collect()
        ]
        self.build_dict = [
            tuple(r)
            for r in self.spark.read.parquet(os.path.join(self.index_dir, "dictionary"))
            .select("term", "df", "cf")
            .collect()
        ]
        s["index_bytes"] = dir_bytes(self.index_dir)
        s["input_bytes"] = dir_bytes(self.pages_dir)
        s["postings_bytes"] = dir_bytes(os.path.join(self.index_dir, "postings"))
        s["analyzed_raw_bytes"] = dir_bytes(os.path.join(self.index_dir, "analyzed_raw"))
        s["stage_s"] = {}
        for stage in BUILD_STAGES:
            with open(os.path.join(self.index_dir, stage, "_MANIFEST.json")) as f:
                s["stage_s"][stage] = json.load(f)["wall_sec"]
        self.n_docs = self.build_stats["N"]

        t = time.perf_counter()
        with tr.span("query.engine.open", spark=True):
            self.engine = SearchEngine(self.spark, self.index_dir)
        s["open_s"] = time.perf_counter() - t
        t = time.perf_counter()
        for q in warm:
            self.query(q, record_latency=False)
            s.setdefault("first_query_s", time.perf_counter() - t)
        s["warm_s"] = time.perf_counter() - t
        s["setup_s"] = s["import_s"] + s["session_s"] + s["build_s"] + s["open_s"] + s["warm_s"]
        log("setup " + " ".join(f"{k}={s[k]:.2f}" for k in ("import_s", "session_s", "build_s", "open_s", "first_query_s", "warm_s")))
        return s

    def clients(self, queries: list[dict], deadline: float, round_len: int) -> int:
        """Run ``queries`` in order from ``self.readers`` closed-loop client
        threads until the first round boundary after ``deadline``, so every
        window holds whole rounds of every shape.  Returns how many were
        issued."""
        from pyspark import InheritableThread

        it = iter(queries)
        issued = [0]

        def client() -> None:
            while True:
                with self.lock:
                    if issued[0] % round_len == 0 and time.perf_counter() >= deadline:
                        return
                    q = next(it, None)
                    if q is None:
                        return
                    issued[0] += 1
                self.query(q, record_latency=True)

        threads = [InheritableThread(target=client, name=f"reader-{i}") for i in range(self.readers)]
        for th in threads:
            th.start()
        for th in threads:
            th.join()
        return issued[0]

    def window(self, stream: list[dict], round_len: int) -> list[dict]:
        from pyspark import InheritableThread

        t0 = time.perf_counter()
        deadline = t0 + self.args.seconds
        writer = None
        readers_done = threading.Event()
        if self.cfg["writer"]:

            def write_loop() -> None:
                # keeps writing until the readers stop, so every read of
                # the window overlaps a write
                for cycle, batch in enumerate(self.batches):
                    if readers_done.is_set() or not self.write_cycle(cycle, batch):
                        return

            writer = InheritableThread(target=write_loop, name="writer")
            writer.start()
        n = self.clients(stream, deadline, round_len)
        self.window_wall = time.perf_counter() - t0
        readers_done.set()
        if writer is not None:
            writer.join()
        return stream[:n]

    def patch_parser(self) -> None:
        """Traced runs only: put a span around the parser calls the engine
        makes, by wrapping the name the engine module imported."""
        from apache___solr_spark.query import engine

        inner = engine.parse_query_tree

        def parse_query_tree(*args, **kwargs):
            with self.tracer.span("query.parser.parse_query_tree"):
                return inner(*args, **kwargs)

        engine.parse_query_tree = parse_query_tree

    def layer_probes(self, sample: list[dict]) -> dict:
        """Per-layer measurements made after the window, in traced runs."""
        from apache___solr_spark.analysis.chain import analyze, extract_text
        from apache___solr_spark.corpus import HEAD_TERMS
        from apache___solr_spark.index.codec import decode_vbyte, encode_vbyte
        from pyspark.sql import functions as F

        out = {}
        t = time.perf_counter()
        n_tok = sum(len(analyze(extract_text(r["html"], r["text"]))) for r in sample)
        dt = time.perf_counter() - t
        out["analysis.docs_per_s"] = len(sample) / dt
        out["analysis.tokens_per_doc"] = n_tok / len(sample)

        rows = (
            self.spark.read.parquet(os.path.join(self.index_dir, "postings"))
            .filter(F.col("term").isin(HEAD_TERMS))
            .select("doc_gaps", "tfs")
            .collect()
        )
        bufs = [bytes(r[c]) for r in rows for c in (0, 1)]
        in_bytes = sum(len(b) for b in bufs)
        reps, t = 0, time.perf_counter()
        while reps == 0 or time.perf_counter() - t < 0.3:
            decoded = [decode_vbyte(b) for b in bufs]
            reps += 1
        out["index.codec.decode_mb_per_s"] = reps * in_bytes / 2**20 / (time.perf_counter() - t)
        reps, t = 0, time.perf_counter()
        while reps == 0 or time.perf_counter() - t < 0.3:
            out_bytes = sum(len(encode_vbyte(v)) for v in decoded)
            reps += 1
        out["index.codec.encode_mb_per_s"] = reps * out_bytes / 2**20 / (time.perf_counter() - t)

        d = self.spark.read.parquet(os.path.join(self.index_dir, "dictionary"))
        out["index.updates.dictionary_rows_per_term"] = d.count() / d.select("term").distinct().count()
        out["index.updates.postings_files"] = dir_files(os.path.join(self.index_dir, "postings"))
        return out

    def verify(self) -> None:
        """Check every recorded answer against the oracle for the index
        generation it was read from."""
        from oracles import RemappedOracle, answer_error, build_errors

        oracle = RemappedOracle(pq.read_table(self.pages_dir, columns=["url", "html", "text"]).to_pylist())
        self.attempted += 1
        errs = build_errors(oracle, self.build_stats, self.build_docs, self.build_dict)
        if errs:
            self.errors.append("build: " + "; ".join(errs))
        self.total_postings = sum(len(p) for p in oracle.idx.postings.values())
        by_gen: dict[int, list] = {}
        for gen, q, k, got in self.answers:
            by_gen.setdefault(gen, []).append((q, k, got))
        for gen in range(len(self.writes) + 1):
            if gen > 0:
                w = self.writes[gen - 1]
                oracle.add(w["batch"].rows)
                oracle.delete(w["deleted"])
            for q, k, got in by_gen.get(gen, ()):
                self.attempted += 1
                err = answer_error(got, oracle.search(q, k))
                if err:
                    self.errors.append(f"generation {gen} query {q!r} k={k}: {err}")
        self.attempted += len(self.writes)  # the write cycles themselves

    # -- metrics ----------------------------------------------------------
    def end_to_end(self, s: dict) -> dict:
        lat_ms = [dt * 1000 for dt in self.window_lat]
        tail_ms, tail_pct = tail(lat_ms)
        m = {
            "setup_s": s["setup_s"],
            "build_docs_per_s": self.build_stats["N"] / s["build_s"],
            "index_bytes_per_input_byte": s["index_bytes"] / s["input_bytes"],
            "query_p50_ms": statistics.median(lat_ms),
            "query_tail_ms": tail_ms,
            "query_qps": len(lat_ms) / self.window_wall,
            "add_docs_per_s": statistics.median(w["added"] / w["add_s"] for w in self.writes),
            "visible_ms": statistics.median(w["visible_s"] * 1000 for w in self.writes),
            "ok_share": 1.0 - len(self.errors) / self.attempted,
        }
        log(
            f"queries={len(lat_ms)} tail=p{tail_pct:.1f} write_cycles={len(self.writes)} "
            + " ".join(f"{k}={v:.4g}{END_TO_END[k]}" for k, v in m.items())
        )
        return m

    def per_layer(self, s: dict, layer: dict, summary: dict, t_window_end: float) -> dict:
        from querygen import SHAPES

        spans = self.tracer.spans

        def durs(name: str, scale: float, shape: str | None = None) -> list[float]:
            return [
                (x["end"] - x["start"]) * scale
                for x in spans
                if x["name"] == name and (shape is None or x.get("shape") == shape)
            ]

        window_q = [x for x in spans if x["name"] == "query.engine.search" and "shape" in x]
        m = {"session.start_s": s["session_s"]}
        m.update({k: layer[k] for k in ("analysis.docs_per_s", "analysis.tokens_per_doc")})
        m.update({f"index.builder.{st}_s": s["stage_s"][st] for st in BUILD_STAGES})
        bsp = s["build_span"]
        m["index.builder.spark_jobs"] = bsp["jobs"]
        m["index.builder.spark_tasks"] = bsp["tasks"]
        m["index.builder.postings_bytes"] = s["postings_bytes"]
        m["index.builder.analyzed_raw_bytes"] = s["analyzed_raw_bytes"]
        m["index.codec.bytes_per_posting"] = s["postings_bytes"] / self.total_postings
        m["index.codec.decode_mb_per_s"] = layer["index.codec.decode_mb_per_s"]
        m["index.codec.encode_mb_per_s"] = layer["index.codec.encode_mb_per_s"]
        m["query.parser.parse_us"] = statistics.median(durs("query.parser.parse_query_tree", 1e6))
        m["query.engine.open_ms"] = statistics.median(durs("query.engine.open", 1e3))
        m["query.engine.first_query_ms"] = s["first_query_s"] * 1e3
        for sh in SHAPES:
            m[f"query.engine.search_p50_ms.{sh}"] = statistics.median(
                durs("query.engine.search", 1e3, sh)
            )
        m["query.engine.jobs_per_query"] = statistics.mean(x["jobs"] for x in window_q)
        m["query.engine.tasks_per_query"] = statistics.mean(x["tasks"] for x in window_q)
        for sh in SHAPES:
            m[f"query.engine.jobs_per_query.{sh}"] = statistics.mean(
                x["jobs"] for x in window_q if x["shape"] == sh
            )
        m["query.stream.repeat_term_share"] = summary["repeat_term_share"]
        m["index.updates.add_docs_ms"] = statistics.median(durs("index.updates.add_docs", 1e3))
        m["index.updates.delete_docs_ms"] = statistics.median(durs("index.updates.delete_docs", 1e3))
        m["index.updates.add_docs_jobs"] = statistics.mean(
            x["jobs"] for x in spans if x["name"] == "index.updates.add_docs"
        )
        m["index.updates.postings_files"] = layer["index.updates.postings_files"]
        m["index.updates.dictionary_rows_per_term"] = layer["index.updates.dictionary_rows_per_term"]
        m["spark.failed_tasks"] = sum(x.get("failed_tasks", 0) for x in spans)
        m["tracing.overhead_pct"] = 100.0 * self.tracer.overhead_s / (t_window_end - self.t_setup0)
        m["process.peak_rss_mb"] = s["peak_rss_mb"]
        selfs: dict[str, float] = {}
        for name, sec in self.tracer.self_times().items():
            key = f"self_s.{SPAN_LAYERS[name]}"
            selfs[key] = selfs.get(key, 0.0) + sec
        m.update(selfs)
        return m


def log(msg: str) -> None:
    print(msg, file=sys.stderr, flush=True)


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--work", required=True, help="fresh directory for this run's files")
    args = p.parse_args(argv)

    run = Run(args)
    values = run.run()
    units = per_layer_units() if args.trace else END_TO_END
    if set(values) != set(units):
        raise RuntimeError(f"metric names differ from the declared ones: {set(values) ^ set(units)}")
    for e in run.errors[:20]:
        log("WRONG: " + e)
    result = {
        "correct": not run.errors,
        "attempted": run.attempted,
        "failed": len(run.errors),
        "metrics": {k: {"value": float(values[k]), "unit": units[k]} for k in units},
    }
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
