"""The benchmark's three workloads.

Each is a closed loop with one client: the harness runs one operation at
a time and starts the next when it returns. A workload generates its
inputs from the seed in ``setup`` (which also warms the JVM and runs the
set-up time checks), hands out operations in a fixed seeded order, and
checks outputs outside the timed region: after each operation
(``Op.check``) and once at the end (``finish``).

Every call into the engine goes through ``ctx.tracer.span`` naming the
layer it enters, so a traced run can split an operation's wall time by
layer.
"""

from __future__ import annotations

import datetime
import decimal
import hashlib
import os
import random
import shutil
import statistics
from collections.abc import Callable
from dataclasses import dataclass, field

from perfbench import corpusgen, nvdgen
from perfbench.check import CheckFailed, expect_equal, parquet_rows, relation_digest, spark_digest

NVD_CVES = 5_000  # ~10 MB of JSON over 20 yearly feeds
RELATIONS = ("cvss", "cve_problem", "cpe")
CVSS_COL = {name: i for i, name in enumerate(nvdgen.CVSS_COLUMNS)}
# the projections of plans.cve_queries.cve_detail's summary and cves_by_score_date
CVE_SUMMARY = ("cve", "vector_string_3", "base_score_3", "base_severity_3", "vector_string",
               "base_score", "severity", "description", "published_date", "last_modified_date")
SCORE_DATE = ("cve", "base_score_3", "vector_string_3", "base_score", "vector_string", "published_date")
# bench.py's HEADLINE names: one query per plans module (corpus, features,
# semantic, analytics, relational, sketches, events), and for plans.pipeline
# one per operators module that none of those runs (text, similarity,
# multimodal), so that every operators module the plans use (asof, dedup,
# graph, multimodal, semantic, similarity, text) runs too. A warm round of
# the ten takes about 3.5 s at local[4]; the cold first run of each, about
# 22 s in all, is the set-up's oracle check.
PIPELINE_QUERIES = (
    "join_star_detail",                # plans.relational
    "join_asof",                       # plans.events -> operators.asof
    "text_tokenize_count",             # plans.pipeline -> operators.text
    "knn_cosine",                      # plans.pipeline -> operators.similarity
    "dedup_image_phash",               # plans.pipeline -> operators.multimodal
    "pagerank_links",                  # plans.features -> operators.graph
    "sql_tpch_q5",                     # plans.analytics
    "embedding_norm_zscore_outliers",  # plans.semantic -> operators.semantic
    "seasonal_naive_backtest",         # plans.sketches
    "decontaminate_ngram",             # plans.corpus -> operators.dedup
)
PIPELINE_MODULES = tuple(f"plans.{m}" for m in (
    "corpus", "features", "semantic", "analytics", "relational", "sketches", "pipeline", "events"))
PIPELINE_SCALE = 0.2  # of the testdata layout's sf0.1 row counts
STREAM_SCALE = 0.2  # 20k events
STREAM_FILES = 4  # one micro-batch per file (maxFilesPerTrigger=1)
WARMUP_FILES = 2  # micro-batches per sink in the warm-up
STREAM_SINKS = ("upsert", "rollup", "cms", "heavy_hitters")
HEAVY_HITTERS_K = 8


@dataclass
class Op:
    kind: str
    run: Callable[[], object]  # the timed call
    items: int  # units of work done, for throughput
    check: Callable[[object], None] = lambda result: None
    samples: list[float] = field(default_factory=list)  # micro-batch latencies (s) of a stream op
    progress: list[dict] = field(default_factory=list)  # StreamingQuery.recentProgress of a stream op
    persisted: int = 0  # persisted RDDs left after a traced pipeline op


def _write_parquet(ctx, df, path: str, name: str) -> None:
    # the warehouse store of cve_manager_spark.cli (`-p -idb`, `-icwe`)
    with ctx.tracer.span("sink.parquet", name):
        df.write.mode("overwrite").parquet(path)


def _tree_stats(path: str, prefix: str = "") -> tuple[int, int]:
    """(data files, bytes) under ``path``; with ``prefix``, only under its
    top-level entries starting with it."""
    files = size = 0
    for top in os.listdir(path) if os.path.isdir(path) else ():
        if not top.startswith(prefix):
            continue
        for root, _, names in os.walk(os.path.join(path, top)):
            for n in names:
                if not n.startswith((".", "_")):
                    files += 1
                    size += os.path.getsize(os.path.join(root, n))
    return files, size


# -- nvd_warehouse ------------------------------------------------------------


class NvdWarehouse:
    """The CLI's warehouse, written and read: one refresh (``cli -p -idb``
    plus ``-icwe``: yearly NVD feeds -> cvss / cve_problem / cpe parquet,
    and the CWE catalog) and then the CLI's four lookups (``-cve``,
    ``-cwe``, ``-sc -dt``, ``-cpe -sc -dt``) over what it wrote, results
    collected to the driver as ``cli.py`` does.

    Throughput is the refresh's (CVEs ingested per second of ingest) and
    the latency percentiles are the lookups', so the write side and the
    read side each keep end-to-end metrics of their own."""

    LOOKUPS = ("cve_detail", "cwe_detail", "score_date", "cpe_scan")
    MIX = (6, 2, 1, 1)  # lookups of each shape after each refresh
    kinds = ("ingest",) + LOOKUPS
    pass_len = 1 + sum(MIX)  # odd, so a traced run alternates each position between passes
    rate_kinds = ("ingest",)
    latency_kinds = LOOKUPS
    tail_q = 0.9
    WARMUP_PASSES = 2

    def __init__(self, ctx):
        self.ctx = ctx
        self.wh = os.path.join(ctx.work, "warehouse")
        self._mixes: dict[int, list[tuple[str, tuple]]] = {}

    # -- write side

    def ingest(self) -> None:
        """One refresh of the warehouse."""
        from cve_manager_spark.operators.flatten import flatten_all
        from cve_manager_spark.sources.cwe_csv import read_cwe_csv
        from cve_manager_spark.sources.nvd import read_feeds_json

        ctx, c = self.ctx, self.corpus
        with ctx.tracer.span("sources.nvd", "read_feeds_json"):
            feed = read_feeds_json(ctx.spark, os.path.join(c.feed_dir, "*.json"))
        with ctx.tracer.span("operators.flatten", "flatten_all"):
            relations = flatten_all(feed)
        for rel in RELATIONS:
            _write_parquet(ctx, relations[rel], os.path.join(self.wh, rel), rel)
        with ctx.tracer.span("sources.cwe_csv", "read_cwe_csv"):
            cwe = read_cwe_csv(ctx.spark, c.cwe_csv)
        _write_parquet(ctx, cwe, os.path.join(self.wh, "cwe"), "cwe")

    def setup(self) -> None:
        with self.ctx.phase("generate"):
            self.corpus = nvdgen.generate(os.path.join(self.ctx.work, "nvd"), self.ctx.seed, NVD_CVES)
            rows = self.corpus.rows
            self.cvss = rows["cvss"]
            self.cvss_by_cve = {r[0]: r for r in self.cvss}
            self.problems = rows["cve_problem"]
            self.cpes = rows["cpe"]
            self.cwe = {r[0]: r for r in rows["cwe"]}
            self.years = sorted({r[0][4:8] for r in self.cvss}, reverse=True)
            self.per_year = {y: sorted(r[0] for r in self.cvss if r[0][4:8] == y) for y in self.years}
            self.zipf = [1.0 / (rank + 1) ** 1.1 for rank in range(len(self.years))]
            # one seeded order of the lookup shapes, the same in every pass
            self.order = [k for k, n in zip(self.LOOKUPS, self.MIX) for _ in range(n)]
            random.Random(self.ctx.seed).shuffle(self.order)
        with self.ctx.phase("warm-up"):  # passes with their own arguments
            for p in range(-self.WARMUP_PASSES, 0):
                for j in range(self.pass_len):
                    op = self._op(p, j)
                    op.check(op.run())

    def check_warehouse(self) -> None:
        for rel, want in self.corpus.digests().items():
            got = relation_digest(parquet_rows(os.path.join(self.wh, rel)))
            expect_equal(f"warehouse {rel} (rows, hash)", got, want)

    # -- read side

    def _mix(self, p: int) -> list[tuple[str, tuple]]:
        """The lookups of pass ``p``: the fixed order of shapes with
        arguments drawn for this pass. CVE ids are Zipf-skewed toward
        recent years, with a few misses."""
        if p in self._mixes:
            return self._mixes[p]
        rng = random.Random(f"{self.ctx.seed}:{p}")
        cwe_ids = sorted(self.cwe)
        out = []
        for kind in self.order:
            if kind == "cve_detail":
                y = rng.choices(self.years, self.zipf)[0]
                cve = rng.choice(self.per_year[y]) if rng.random() < 0.95 else f"CVE-{y}-9{rng.randint(0, 999):03d}9"
                out.append((kind, (cve,)))
            elif kind == "cwe_detail":
                out.append((kind, (rng.choice(cwe_ids) if rng.random() < 0.9 else 99_999,)))
            elif kind == "score_date":
                out.append((kind, (rng.choice((8.0, 9.0, 9.5)), f"{rng.randint(2012, 2021)}-01-01")))
            else:
                pat = f"vendor{rng.randint(0, 59)}:" + (f"product{rng.randint(0, 39)}" if rng.random() < 0.5 else "")
                out.append((kind, (pat, rng.choice((5.0, 7.0)), f"{rng.randint(2008, 2018)}-06-01")))
        self._mixes = {p: out}  # only the current pass is needed again
        return out

    def _read(self, name: str):
        with self.ctx.tracer.span("sources.parquet", name):
            return self.ctx.spark.read.parquet(os.path.join(self.wh, name))

    def _collect(self, df, name: str) -> list:
        with self.ctx.tracer.span("action.collect", name) as s:
            rows = df.collect()
        if s is not None:
            s.counters["plan_ms"] = _plan_ms(df)
            s.counters["rows_returned"] = len(rows)
        return rows

    def next_op(self, i: int) -> Op:
        return self._op(*divmod(i, self.pass_len))

    def _op(self, p: int, j: int) -> Op:
        """Position ``j`` of pass ``p``: the refresh first, then the lookups."""
        if j == 0:
            return Op("ingest", self.ingest, self.corpus.n_cves)
        from cve_manager_spark.plans import cve_queries as q

        kind, args = self._mix(p)[j - 1]
        span = self.ctx.tracer.span

        if kind == "cve_detail":
            def run():
                tables = [self._read(n) for n in ("cvss", "cve_problem", "cpe", "cwe")]
                with span("plans.cve_queries", "cve_detail"):
                    parts = q.cve_detail(*tables, args[0])
                with span("plans.cve_queries", "limit"):
                    summary = parts["summary"].limit(1)
                return (self._collect(summary, "summary"), self._collect(parts["problems"], "problems"),
                        self._collect(parts["cpes"], "cpes"))
        elif kind == "cwe_detail":
            def run():
                cwe = self._read("cwe")
                with span("plans.cve_queries", "cwe_detail"):
                    df = q.cwe_detail(cwe, args[0]).limit(1)
                return (self._collect(df, "cwe"),)
        elif kind == "score_date":
            def run():
                cvss = self._read("cvss")
                with span("plans.cve_queries", "cves_by_score_date"):
                    df = q.cves_by_score_date(cvss, *args)
                return (self._collect(df, "score_date"),)
        else:
            def run():
                cvss, cpe = self._read("cvss"), self._read("cpe")
                with span("plans.cve_queries", "cves_by_cpe"):
                    df = q.cves_by_cpe(q.cvss_vs_cpes(cvss, cpe), *args)
                return (self._collect(df, "cpe_scan"),)

        def check(result):
            want = self.expected(kind, args)
            for n, (got, exp) in enumerate(zip(result, want)):
                expect_equal(f"{kind}{args} part {n}", relation_digest(got), relation_digest(exp))

        return Op(kind, run, 1, check)

    def expected(self, kind: str, args: tuple) -> tuple[list, ...]:
        """The answer computed from the generator's rows, with the engine's
        semantics: contains-match on the id, SQL three-valued OR."""
        c = CVSS_COL

        def score_ok(r, s):
            return any(r[c[k]] is not None and r[c[k]] >= s for k in ("base_score_3", "base_score"))

        if kind == "cve_detail":
            cve = args[0]
            hits = sorted((r for r in self.cvss if cve in r[c["cve"]]), key=lambda r: r[c["cve"]])[:1]
            summary = [tuple(r[c[k]] for k in CVE_SUMMARY) for r in hits]
            probs = []
            for cid, p in self.problems:
                if cve in cid:
                    num = p.lstrip("CWE-")
                    cat = self.cwe.get(int(num)) if num.isdigit() else None
                    probs.append((cid, p, cat[1] if cat else None))
            cpes = [(cid, u) for cid, u, v in self.cpes if cve in cid and v == "True"]
            return summary, probs, cpes
        if kind == "cwe_detail":
            row = self.cwe.get(args[0])
            return ([row] if row else [],)
        if kind == "score_date":
            s, d = args[0], datetime.date.fromisoformat(args[1])
            return ([tuple(r[c[k]] for k in SCORE_DATE) for r in self.cvss
                     if score_ok(r, s) and r[c["published_date"]] >= d],)
        pat, s, d = args[0], args[1], datetime.date.fromisoformat(args[2])
        out = []
        for cid, u, v in self.cpes:
            r = self.cvss_by_cve[cid]
            if v == "True" and pat in u and score_ok(r, s) and r[c["published_date"]] >= d:
                out.append((u, cid, r[c["base_score_3"]], r[c["base_score"]], r[c["published_date"]]))
        return (out,)

    def finish(self) -> None:
        self.check_warehouse()

    def layer_metrics(self, tracer, traced: list[dict], untraced: list[dict]) -> dict[str, float]:
        """Ingest layers per traced refresh, lookup layers per traced lookup."""
        ingests = [tracer.of_op(r["index"]) for r in traced if r["kind"] == "ingest"]
        lookups = [s for r in traced if r["kind"] != "ingest" for s in tracer.of_op(r["index"])]
        n_ingest = max(1, len(ingests))
        n_lookup = max(1, sum(r["kind"] != "ingest" for r in traced))

        def med(layer, names=None, key=None):
            return median_or_zero(
                sum(s.counters.get(key, 0) if key else s.seconds for s in spans
                    if s.layer in layer and (names is None or s.name in names))
                for spans in ingests
            )

        m = {
            "executor.cpu_s": sum(tracer.total("cpu_ns", spans) for spans in ingests) / 1e9 / n_ingest,
            "executor.gc_s": sum(tracer.total("gc_ms", spans) for spans in ingests) / 1e3 / n_ingest,
            "flatten.build_s": med(("sources.nvd", "operators.flatten")),
            "cwe.load_s": med(("sources.cwe_csv", "sink.parquet"), ("read_cwe_csv", "cwe")),
            "sources.nvd.scan_passes": med(("sink.parquet",), RELATIONS, "input_bytes") / self.corpus.feed_bytes,
            "sinks.bytes_per_cve": sum(_tree_stats(self.wh, rel)[1] for rel in RELATIONS) / self.corpus.n_cves,
            "sinks.files_written": _tree_stats(self.wh)[0],
        }
        for rel in RELATIONS:
            m[f"flatten.{rel}.write_s"] = med(("sink.parquet",), (rel,))
        for k in self.LOOKUPS:
            m[f"lookup.{k}.p50_ms"] = median_or_zero(r["seconds"] for r in untraced if r["kind"] == k) * 1000
        m["lookup.jobs_per_op"] = tracer.total("jobs", lookups) / n_lookup
        m["lookup.plan_ms"] = tracer.total("plan_ms", lookups) / n_lookup
        m["lookup.rows_scanned_per_row_returned"] = (
            tracer.total("input_records", lookups) / max(1, tracer.total("rows_returned", lookups)))
        return m


def median_or_zero(values) -> float:
    """Median of ``values``; 0 when there are none."""
    values = list(values)
    return statistics.median(values) if values else 0.0


def _plan_ms(df) -> float:
    """Catalyst analysis + optimization + planning time of ``df``'s query
    execution, from its QueryPlanningTracker."""
    phases = df._jdf.queryExecution().tracker().phases()
    total = 0.0
    for phase in ("analysis", "optimization", "planning"):
        opt = phases.get(phase)
        if opt.isDefined():
            total += opt.get().durationMs()
    return float(total)


# -- corpus_pipeline -----------------------------------------------------------


class CorpusPipeline:
    """A subset of bench.py's headline queries over seeded testdata-shaped
    tables, each run to the noop sink as bench.py does."""

    kinds = PIPELINE_QUERIES
    pass_len = 3 * len(PIPELINE_QUERIES)  # three rounds, so a run holds three of every query
    tail_q = 0.9  # over the ten queries' best times: the second slowest query
    best_per_kind = True  # a query's latency is its best round, as bench.py's min-of-k

    def __init__(self, ctx):
        self.ctx = ctx

    def setup(self) -> None:
        import duckdb

        from cve_manager_spark.plans.registry import collect

        with self.ctx.phase("generate"):
            self.sf = corpusgen.generate(os.path.join(self.ctx.work, "sf"), self.ctx.seed, PIPELINE_SCALE)
        self.specs = collect()
        con = duckdb.connect()
        try:
            for t in os.listdir(self.sf):
                con.execute(f"CREATE VIEW {t[:-8]} AS SELECT * FROM '{os.path.join(self.sf, t)}'")
            with self.ctx.phase("oracle check"):  # doubles as the warm-up
                for name in self.kinds:
                    spec = self.specs[name]
                    self.ctx.spark.catalog.clearCache()
                    got = spark_digest(spec.build(self.ctx.spark, self.sf), by_name=True)
                    rel = con.sql(spec.oracle)
                    order = sorted(range(len(rel.columns)), key=lambda i: rel.columns[i])
                    want = relation_digest(tuple(r[i] for i in order) for r in rel.fetchall())
                    expect_equal(f"{name} vs its DuckDB oracle (rows, hash)", got, want)
        finally:
            con.close()

    def next_op(self, i: int) -> Op:
        name = self.kinds[i % len(self.kinds)]
        spec = self.specs[name]
        ctx = self.ctx
        ctx.spark.catalog.clearCache()  # outside the timed call, as bench.py does

        op = Op(name, None, 1)

        def run():
            with ctx.tracer.span(spec.build.__module__.removeprefix("cve_manager_spark."), name):
                df = spec.build(ctx.spark, self.sf)
            with ctx.tracer.span("action.noop", name):
                df.write.format("noop").mode("overwrite").save()
            if ctx.tracer.enabled:  # checkpoint and cache blocks the query left behind
                op.persisted = ctx.tracer.counters.persisted_rdds()

        op.run = run
        return op

    def finish(self) -> None:
        self.ctx.spark.catalog.clearCache()

    def layer_metrics(self, tracer, traced: list[dict], untraced: list[dict]) -> dict[str, float]:
        """Per round of the ten queries: the sum over queries of each query's median."""
        def per_pass(records, value) -> float:
            by_kind: dict[str, list[float]] = {}
            for r in records:
                by_kind.setdefault(r["kind"], []).append(value(r))
            return sum(median_or_zero(v) for v in by_kind.values())

        def builder(r):
            return [s for s in tracer.of_op(r["index"]) if s.layer.startswith("plans.")]

        m = {
            "pipeline.build_s": per_pass(traced, lambda r: sum(s.seconds for s in builder(r))),
            "pipeline.build_jobs": per_pass(traced, lambda r: tracer.total("jobs", builder(r))),
            "pipeline.jobs": per_pass(traced, lambda r: tracer.total("jobs", tracer.of_op(r["index"]))),
            "storage.persisted_rdds_after_op": median_or_zero(r["op"].persisted for r in traced),
        }
        for module in PIPELINE_MODULES:
            mine = [r for r in untraced if self.specs[r["kind"]].build.__module__ == f"cve_manager_spark.{module}"]
            m[f"pipeline.{module}.wall_s"] = per_pass(mine, lambda r: r["seconds"])
        return m


# -- stream_state --------------------------------------------------------------


class StreamState:
    """Events replayed file by file (``maxFilesPerTrigger=1``) through the
    snapshot-state sinks of ``streaming.sinks``; one operation is one sink
    consuming every file, into fresh state."""

    kinds = STREAM_SINKS
    # two replays per sink, half a pass apart, so that a GC or compilation
    # hiccup during one sink's replay weighs less on the run's figures
    pass_len = 2 * len(STREAM_SINKS)
    tail_q = 0.9  # three of a pass's 32 micro-batches lie beyond it

    def __init__(self, ctx):
        self.ctx = ctx
        self.last_out: dict[str, str] = {}

    def setup(self) -> None:
        import pyarrow.parquet as pq

        with self.ctx.phase("generate"):
            events = corpusgen.events(self.ctx.seed, STREAM_SCALE)
            self.n_rows = events.num_rows
            self.src = os.path.join(self.ctx.work, "stream_src")
            warm_src = os.path.join(self.ctx.work, "stream_warm_src")
            os.makedirs(self.src)
            os.makedirs(warm_src)
            step = -(-self.n_rows // STREAM_FILES)
            for f in range(STREAM_FILES):
                part = events.slice(f * step, step)
                pq.write_table(part, os.path.join(self.src, f"part-{f:03d}.parquet"))
                if f < WARMUP_FILES:
                    pq.write_table(part, os.path.join(warm_src, f"part-{f:03d}.parquet"))
            self.want = self._batch_twins(events)
        with self.ctx.phase("warm-up"):  # each sink replays the warm-up files
            for kind in self.kinds:
                self._op(kind, os.path.join(self.ctx.work, f"warm_{kind}"), warm_src).run()

    def _batch_twins(self, events) -> dict:
        """The state each sink must reach, computed in one batch over all
        events: the newest row per user, the day rollup with an exact
        decimal sum, the CountMin counters (first hex digit of
        md5("<row>:<user>"), as the sinks and plans.sketches bucket), and
        the exact per-user counts the heavy-hitter bounds are checked on."""
        rows = events.select(["event_id", "ts", "user_id", "event_type", "value"]).to_pylist()
        newest: dict[int, dict] = {}
        days: dict[datetime.date, list] = {}
        cms: dict[tuple[int, int], int] = {}
        counts: dict[str, int] = {}
        for r in rows:
            u = r["user_id"]
            if u not in newest or (r["ts"], r["event_id"]) > (newest[u]["ts"], newest[u]["event_id"]):
                newest[u] = r
            day = days.setdefault(r["ts"].date(), [0, decimal.Decimal(0)])
            day[0] += 1
            day[1] += decimal.Decimal(repr(r["value"])).quantize(decimal.Decimal("0.0001"), decimal.ROUND_HALF_UP)
            for row in range(4):
                b = int(hashlib.md5(f"{row}:{u}".encode()).hexdigest()[0], 16)
                cms[(row, b)] = cms.get((row, b), 0) + 1
            counts[str(u)] = counts.get(str(u), 0) + 1
        self.exact = counts
        return {
            "upsert": relation_digest((r["user_id"], r["event_id"], r["event_type"], r["value"]) for r in newest.values()),
            "rollup": relation_digest((d, n, float(sv)) for d, (n, sv) in days.items()),
            "cms": relation_digest((r, b, c) for (r, b), c in cms.items()),
        }

    def _op(self, kind: str, out: str, src: str | None = None) -> Op:
        from cve_manager_spark.streaming import sinks
        from cve_manager_spark.streaming.windows import read_events_stream

        ctx = self.ctx
        op = Op(kind, None, self.n_rows)
        start = {
            "upsert": lambda s: sinks.foreach_batch_upsert(s, out, key_cols=["user_id"], order_cols=["ts", "event_id"]),
            "rollup": lambda s: sinks.foreach_batch_rollup(s, out),
            "cms": lambda s: sinks.foreach_batch_cms(s, out),
            "heavy_hitters": lambda s: sinks.foreach_batch_heavy_hitters(s, out, k=HEAVY_HITTERS_K),
        }[kind]

        def run():
            with ctx.tracer.span("streaming.windows", "read_events_stream"):
                stream = read_events_stream(ctx.spark, src or self.src, max_files_per_trigger=1)
            with ctx.tracer.span("streaming.sinks", f"start:{kind}"):
                query = start(stream)
            with ctx.tracer.span("streaming.sinks", f"await:{kind}") as s:
                done = query.awaitTermination(ctx.op_timeout_s)
            if not done:
                query.stop()
                raise TimeoutError(f"{kind} replay exceeded {ctx.op_timeout_s} s")
            if query.exception() is not None:
                raise RuntimeError(str(query.exception()))
            progress = [p for p in query.recentProgress if p["numInputRows"] > 0]
            op.samples = [p["durationMs"]["triggerExecution"] / 1000 for p in progress]
            op.progress = progress
            if s is not None:
                s.counters.update(ctx.tracer.group_counters(str(query.runId)))
            return out

        def check(state_dir):
            self.check_state(kind, state_dir)
            old = self.last_out.get(kind)
            if old and old != state_dir:
                shutil.rmtree(old, ignore_errors=True)
            self.last_out[kind] = state_dir

        op.run, op.check = run, check
        return op

    def check_state(self, kind: str, out: str) -> None:
        """The sink's newest snapshot (what its ``read_*_state`` returns)
        against its batch twin, as tests/test_streaming.py asserts it."""
        newest = max(int(d.removeprefix("_state_v")) for d in os.listdir(out) if d.startswith("_state_v"))
        snapshot = os.path.join(out, f"_state_v{newest}")
        if kind == "heavy_hitters":
            self._check_heavy_hitters(parquet_rows(snapshot, ["key", "c", "n_total"]))
            return
        columns = {"upsert": ["user_id", "event_id", "event_type", "value"], "rollup": ["day", "n_events", "sv"],
                   "cms": ["r", "b", "c"]}[kind]
        rows = parquet_rows(snapshot, columns)
        if kind == "rollup":  # read_rollup_state reports the decimal sum as a double
            rows = [(d, n, float(sv)) for d, n, sv in rows]
        expect_equal(f"{kind} state vs its batch twin (rows, hash)", relation_digest(rows), self.want[kind])

    def _check_heavy_hitters(self, rows: list[tuple]) -> None:
        """Misra-Gries guarantees: at most k counters, every key above
        N/(k+1) kept, each counter a lower bound within the undercount bound."""
        k, exact = HEAVY_HITTERS_K, self.exact
        if not 0 < len(rows) <= k or rows[0][2] != self.n_rows:
            raise CheckFailed(f"heavy_hitters: {len(rows)} counters, n_total {rows[0][2] if rows else None}")
        kept = {key: c for key, c, _ in rows}
        slack = self.n_rows - sum(kept.values())
        for key, n in exact.items():
            if n * (k + 1) > self.n_rows and key not in kept:
                raise CheckFailed(f"heavy_hitters: frequent key {key} ({n}) dropped")
        for key, c in kept.items():
            if c > exact.get(key, 0) or (exact[key] - c) * (k + 1) > slack:
                raise CheckFailed(f"heavy_hitters: counter {key}={c} breaks its bound")

    def next_op(self, i: int) -> Op:
        kind = self.kinds[i % len(self.kinds)]
        return self._op(kind, os.path.join(self.ctx.work, f"state_{kind}_{i}"))

    def finish(self) -> None:
        pass

    def layer_metrics(self, tracer, traced: list[dict], untraced: list[dict]) -> dict[str, float]:
        """Batch latencies from every replay (Spark's own progress reports);
        state size from the last replay of each sink."""
        batches = [p for r in traced + untraced for p in r["op"].progress]
        m = {f"stream.{k}.batch_p50_ms": median_or_zero(
            s * 1000 for r in traced + untraced if r["kind"] == k for s in r["op"].samples) for k in self.kinds}
        m["stream.add_batch_ms"] = median_or_zero(p["durationMs"]["addBatch"] for p in batches)
        m["stream.trigger_overhead_ms"] = median_or_zero(
            p["durationMs"]["triggerExecution"] - p["durationMs"]["addBatch"] for p in batches)
        files = size = versions = 0
        for out in self.last_out.values():
            f, b = _tree_stats(out, "_state_v")
            files, size = files + f, size + b
            versions += sum(d.startswith("_state_v") for d in os.listdir(out))
        m.update({"stream.state_files": files, "stream.state_bytes": size, "stream.state_versions": versions})
        return m


WORKLOADS = {
    "nvd_warehouse": NvdWarehouse,
    "corpus_pipeline": CorpusPipeline,
    "stream_state": StreamState,
}
