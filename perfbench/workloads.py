"""The benchmark's workloads: setup, one operation, output checks, and the
per-layer metrics their traced run reports.

Every workload drives the engine only through its public entry points and
receives only inputs generated from the run's seed (perfbench/gen.py).
"""

from __future__ import annotations

import datetime as dt
import math
import os
from collections import defaultdict
from concurrent.futures import ThreadPoolExecutor
from decimal import Decimal

import numpy as np
import pyarrow.parquet as pq

from perfbench import gen
from perfbench.harness import dir_bytes
from perfbench.tracing import Span, Tracer


def _mean(xs: list[float]) -> float:
    return sum(xs) / len(xs) if xs else 0.0


def _spans(tracer: Tracer, name: str) -> list[Span]:
    return [s for s in tracer.spans if s.name == name]


# -- result comparison -----------------------------------------------------
def diff_rows(got: list[tuple], want: list[tuple]) -> str | None:
    """Order-insensitive row comparison (decimals as floats, floats to a
    relative 1e-9); returns a description of the first difference."""
    if len(got) != len(want):
        return f"{len(got)} rows, expected {len(want)}"
    g = sorted(tuple(float(v) if isinstance(v, Decimal) else v for v in r) for r in got)
    for i, (a, b) in enumerate(zip(g, sorted(want))):
        same = (
            math.isclose(x, y, rel_tol=1e-9) if isinstance(x, float) else x == y
            for x, y in zip(a, b)
        )
        if len(a) != len(b) or not all(same):
            return f"row {i}: {a} != {b}"
    return None


_NUMERIC = (
    "DECIMAL", "DOUBLE", "FLOAT", "REAL", "HUGEINT", "BIGINT", "INTEGER",
    "SMALLINT", "TINYINT", "UBIGINT", "UINTEGER",
)


def _normalized(con, view: str) -> str:
    """SELECT over ``view`` with numbers as DOUBLE rounded to 6 places and
    zoned timestamps as UTC wall-clock, so Spark and DuckDB types agree."""
    rel = con.sql(f"SELECT * FROM {view}")
    exprs = []
    for name, typ in zip(rel.columns, rel.dtypes):
        col = '"' + name.replace('"', '""') + '"'
        t = str(typ).upper()
        if t.startswith(_NUMERIC):
            col = f"ROUND(CAST({col} AS DOUBLE), 6)"
        elif t == "TIMESTAMP WITH TIME ZONE":
            col = f"CAST({col} AS TIMESTAMP)"
        exprs.append(col)
    return f"SELECT {', '.join(exprs)} FROM {view}"


def table_path(warehouse: str, table: str) -> str:
    db, name = table.split(".")
    return os.path.join(warehouse, f"{db}.db", name)


class Workload:
    """One workload. ``op`` is timed; ``prepare``/``cleanup`` around it and
    the checks are not."""

    name = ""
    throughput = ("", 1)  # (per-layer name of the work rate, units per op)
    block = 1  # ops of one mix; a traced run alternates whole blocks
    run_ops = 1  # a run's op count is a multiple of this

    def __init__(self, ctx):
        self.ctx = ctx
        self.spark = ctx.spark

    def setup(self) -> None:
        raise NotImplementedError

    def prepare(self) -> None:
        pass

    def op(self) -> None:
        raise NotImplementedError

    def cleanup(self) -> None:
        pass

    def check(self) -> list[str]:
        return []

    def instrument(self, tracer: Tracer) -> None:
        pass

    def traced_extra(self, tracer: Tracer) -> dict:
        """Work a traced run adds after its ops (the tracer's patches are
        removed on entry); returns per-layer values by name."""
        return {}

    def layer_metrics(self, tracer: Tracer, usage, traced) -> dict:
        """Workload-specific per-layer values by name (units: harness.PER_LAYER)."""
        return {}


def instrument_merge(tracer: Tracer, warehouse: str) -> None:
    """Span every ``merge_into_table`` call; untimed counts around it give
    rows offered and inserted, and the stored size of the table after."""
    from personal_data_lakehouse_spark.operators import merge as merge_mod

    def make(orig):
        def merge_into_table(spark, table, source, keys, insert_only=False):
            with tracer.span("merge.merge_into_table", table=table) as s:
                with tracer.span("merge.count", untimed=True):
                    offered = source.count()
                    before = spark.table(table).count() if spark.catalog.tableExists(table) else 0
                orig(spark, table, source, keys, insert_only)
                with tracer.span("merge.count", untimed=True):
                    after = spark.table(table).count()
                s.attrs.update(
                    offered=offered,
                    inserted=after - before,
                    rows=after,
                    stored=dir_bytes(table_path(warehouse, table)),
                )

        return merge_into_table

    tracer.patch(merge_mod, "merge_into_table", make)


def merge_metrics(tracer: Tracer, usage, n_ops: int) -> dict:
    """Time and insert ratio over every traced op. The write amplification
    of a table that is rewritten grows with its size, so it is taken from
    the first traced op only, whose state does not depend on how many ops
    the run completed."""
    spans = _spans(tracer, "merge.merge_into_table")
    offered = sum(s.attrs["offered"] for s in spans)
    inserted = sum(s.attrs["inserted"] for s in spans)
    written = inserted_bytes = 0.0
    first = min((s.op for s in spans), default=None)
    for s in spans:
        if s.op != first:
            continue
        written += usage.stage_sum(usage.of([s])["stages"], "outputBytes")
        if s.attrs["rows"]:
            inserted_bytes += s.attrs["inserted"] * s.attrs["stored"] / s.attrs["rows"]
    return {
        "merge.merge_s": sum(s.timed for s in spans) / max(1, n_ops),
        "merge.insert_ratio": inserted / offered if offered else 0.0,
        "merge.write_amp": written / inserted_bytes if inserted_bytes else 0.0,
    }


# -------------------------------------------------------------------------
class QueryMix(Workload):
    """Closed loop, one client: a seeded sequence of read-only registry
    queries over generated sf0.1-sized tables. Each op builds the query's
    DataFrame (the registry callable) and executes it into the noop sink.
    ``q_stream_static_enrich`` runs a Structured Streaming query
    (``streaming.windows.stream_events``, availableNow, memory sink) inside
    its registry callable, so the streaming layer is measured here."""

    name = "query_mix"
    throughput = ("queries_per_s", 1)
    QUERIES = (
        "q01_pricing_summary",
        "q02_monthly_rollup",
        "q03_shipping_priority",
        "q05_region_revenue",
        "q06_revenue_forecast",
        "q07_nation_volume",
        "q_grouping_sets",
        "q_window_topk",
        "q_tumbling_window",
        "q_asof_join",
        "q_silver_cleaning",
        "q_stream_static_enrich",
        "s_cosine_topk",
        "s_ivf_ann_topk",
    )
    block = run_ops = len(QUERIES)

    def setup(self) -> None:
        # importing a plans module registers its queries
        from personal_data_lakehouse_spark.plans import (  # noqa: F401
            advanced,
            extras,
            registry,
            relational,
            round4_ops,
            similarity_ops,
        )

        self.registry = registry
        self.data = os.path.join(self.ctx.work, "data")
        os.makedirs(self.data)
        for name, table in gen.lakehouse_tables(self.ctx.seed).items():
            pq.write_table(table, os.path.join(self.data, f"{name}.parquet"))
        # the mix: consecutive seeded permutations of the query set, so
        # every block of ops has the same composition in a seeded order
        self.rng = np.random.default_rng([self.ctx.seed, 7])
        self.pending: list[int] = []
        # warm-up: every query collected once, the result kept for the
        # oracle check. The queries run concurrently (one alone leaves most
        # cores idle), so the cache is cleared only after the whole pass.
        def collect(name):
            df = registry.REGISTRY[name].fn(self.spark, self.data)
            return df.columns, df.toArrow()

        with ThreadPoolExecutor(self.ctx.cores) as pool:
            self.results = dict(zip(self.QUERIES, pool.map(collect, self.QUERIES)))
        self.spark.catalog.clearCache()

    def check(self) -> list[str]:
        """Each query's warm-up result against its DuckDB oracle, compared
        inside DuckDB as multisets (EXCEPT ALL both ways) after casting
        numbers to DOUBLE rounded to 6 places."""
        import duckdb

        reg = self.registry
        # bind oracle result types against the generated tables
        reg._DESCRIBE_SF_DIR = self.data
        reg._DESCRIBE_CON = None
        reg._ORACLE_CACHE.clear()
        con = duckdb.connect()
        con.sql("SET TimeZone = 'UTC'")
        for t in reg.TABLES:
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{self.data}/{t}.parquet'")
        failures = []
        for name, (cols, got) in self.results.items():
            con.register("got", got)
            con.sql(f"CREATE OR REPLACE TEMP VIEW want AS {reg.oracle_double(name)}")
            want_cols = con.sql("SELECT * FROM want").columns
            if [c.lower() for c in want_cols] != [c.lower() for c in cols]:
                failures.append(f"{name}: columns {cols} != oracle {want_cols}")
                continue
            g, w = _normalized(con, "got"), _normalized(con, "want")
            n_got, n_want, n_diff = con.sql(
                f"SELECT (SELECT count(*) FROM got), (SELECT count(*) FROM want), "
                f"(SELECT count(*) FROM (({g} EXCEPT ALL {w}) UNION ALL ({w} EXCEPT ALL {g})))"
            ).fetchone()
            if n_got != n_want or n_diff:
                failures.append(f"{name}: {n_got} rows vs oracle {n_want}, {n_diff} differ")
            con.unregister("got")
        con.close()
        return failures

    def prepare(self) -> None:
        if not self.pending:
            self.pending = list(self.rng.permutation(len(self.QUERIES)))
        self.query = self.QUERIES[self.pending.pop()]

    def op(self) -> None:
        with self.ctx.span("plans.build", query=self.query):
            df = self.registry.REGISTRY[self.query].fn(self.spark, self.data)
        layer = "similarity.exec" if self.query.startswith("s_") else "plans.exec"
        with self.ctx.span(layer, query=self.query):
            df.write.format("noop").mode("overwrite").save()

    def cleanup(self) -> None:
        # registry contract: queries may persist intermediates the result reads
        self.spark.catalog.clearCache()

    def instrument(self, tracer: Tracer) -> None:
        from pyspark.sql.streaming import DataStreamWriter

        from personal_data_lakehouse_spark.streaming import windows

        tracer.wrap(windows, "stream_events", "streaming.stream_events")
        self.streams = []

        def make(orig):
            def start(writer, *args, **kwargs):
                with tracer.span("streaming.start"):
                    q = orig(writer, *args, **kwargs)
                self.streams.append(q)
                return q

            return start

        tracer.patch(DataStreamWriter, "start", make, everywhere=False)

    def layer_metrics(self, tracer, usage, traced) -> dict:
        m = {
            key: _mean([s.timed for s in _spans(tracer, span)])
            for key, span in (
                ("plans.build_s", "plans.build"),
                ("plans.exec_s", "plans.exec"),
                ("similarity.exec_s", "similarity.exec"),
            )
        }
        # micro-batch figures from each finished query's progress reports
        batches = [p for q in self.streams for p in q.recentProgress]
        state_rows = [
            max((sum(op["numRowsTotal"] for op in p["stateOperators"]) for p in q.recentProgress), default=0)
            for q in self.streams
        ]
        m.update(
            {
                "streaming.batch_s": _mean([p["durationMs"]["triggerExecution"] / 1000.0 for p in batches]),
                "streaming.rows_per_batch": _mean([p["numInputRows"] for p in batches]),
                "streaming.state_rows": _mean(state_rows),
            }
        )
        return m


# -------------------------------------------------------------------------
class MedallionDaily(Workload):
    """The reference's daily DAG: each op is one tick — fetch the 100-day
    compact window for every symbol, insert-only MERGE into bronze, then
    run the silver and gold models. One new day per tick, so ~99 % of the
    offered rows are replays."""

    name = "medallion_daily"
    # the reference's design point: 3 tickers, a 100-day compact window
    SYMBOLS = 3
    WINDOW = 100
    throughput = ("quotes_per_s", SYMBOLS * WINDOW)
    # ticks keep getting faster for about ten ticks as the JVM warms up (the
    # first one takes about twice as long as the tenth), so every run
    # measures the same number of them from the base state on, i.e. the
    # same stretch of that curve; five outlast the 10 s window on the
    # current code. No warm-up tick: it would cost set-up time that the
    # benchmark's total time limit does not leave.
    run_ops = 5

    def setup(self) -> None:
        from personal_data_lakehouse_spark import pipelines

        self.pipelines = pipelines
        self.feed = gen.QuoteFeed(self.ctx.seed, symbols=self.SYMBOLS, window=self.WINDOW)
        self.fetched: list[int] = []
        self.tick()  # base state: the first window and a full model build

    def fetch(self, symbol: str):
        payload = self.feed.fetch(symbol)
        if self.ctx.tracer is not None:
            self.fetched.append(len(payload))
        return payload

    def tick(self) -> None:
        self.pipelines.ingest_to_bronze(self.spark, self.feed.symbols, self.fetch)
        self.pipelines.run_models(self.spark)

    def prepare(self) -> None:
        self.feed.advance()

    def op(self) -> None:
        self.tick()

    def check(self) -> list[str]:
        rows = self.feed.rows_through(self.feed.tick + self.WINDOW - 1)
        failures = []
        bronze = self.spark.table("bronze.raw_stock_daily").select(
            "ticker", "date", "open", "high", "low", "close", "volume"
        ).collect()
        problem = diff_rows([tuple(r) for r in bronze], rows)
        if problem:
            failures.append(f"bronze: {problem}")
        acc: dict[tuple, list] = defaultdict(list)
        for ticker, date, _o, high, low, close, volume in rows:
            if volume > 0 and close > 0:
                acc[(ticker, dt.date.fromisoformat(date[:8] + "01"))].append((high, low, close, volume))
        want = [
            (
                k[0],
                k[1],
                float(sum(v[3] for v in vs)),
                sum(v[2] for v in vs) / len(vs),
                max(v[0] for v in vs),
                min(v[1] for v in vs),
            )
            for k, vs in acc.items()
        ]
        gold = self.spark.table("gold.monthly_summary").select(
            "sigla_empresa",
            "data_inicio_mes",
            "volume_total_mensal",
            "preco_medio_fechamento_mensal",
            "maximo_mensal",
            "minimo_mensal",
        ).collect()
        problem = diff_rows([tuple(r) for r in gold], want)
        if problem:
            failures.append(f"gold: {problem}")
        return failures

    def instrument(self, tracer: Tracer) -> None:
        from personal_data_lakehouse_spark.io import rest
        from personal_data_lakehouse_spark.plans.models import ModelRunner

        tracer.wrap(self.pipelines, "ingest_to_bronze", "pipelines.ingest_to_bronze")
        tracer.wrap(self.pipelines, "run_models", "pipelines.run_models")
        tracer.wrap(rest, "fetch_stock_frame", "io.rest.fetch_stock_frame")
        tracer.wrap(
            ModelRunner,
            "run_model",
            lambda runner, model, *a, **k: f"models.run.{model.name}",
            everywhere=False,
        )
        instrument_merge(tracer, self.ctx.warehouse)
        self.fetched = []

    def layer_metrics(self, tracer, usage, traced) -> dict:
        fetches = _spans(tracer, "io.rest.fetch_stock_frame")
        m = {
            "io.rest.fetch_s": _mean([s.timed for s in fetches]),
            "io.rest.rows": sum(self.fetched) / max(1, len(fetches)),
        }
        for model in ("daily_stocks", "monthly_summary"):
            m[f"models.run_s.{model}"] = _mean([s.timed for s in _spans(tracer, f"models.run.{model}")])
        m.update(merge_metrics(tracer, usage, len(traced.op_spans)))
        return m


# -------------------------------------------------------------------------
class CorpusDedup(Workload):
    """LLM-corpus dedup: a corpus of the sf0.1 ``documents`` table's size is
    materialized as the incremental pipeline's stage tables (setup); each op
    MERGEs one new-docs batch through intake, exact and near dedup
    (``run_increment``). The traced run also times one full
    ``corpus_pipeline`` build over the base corpus."""

    name = "corpus_dedup"
    BASE = gen.SF01_ROWS["documents"]
    BATCH = 500
    NS = "corpus_inc"
    throughput = ("docs_per_s", BATCH)
    # increments also speed up over the first few as the JVM warms up, and
    # the first one is the most sensitive to host load (its time ranged
    # over 7.9-10.8 s across runs where the third stayed within 7.0-7.9 s),
    # so it runs in setup as a warm-up; every run then measures the next
    # two, which outlast the 10 s window on the current code
    run_ops = 2

    def setup(self) -> None:
        from personal_data_lakehouse_spark import corpus, corpus_incremental

        self.corpus = corpus
        self.inc = corpus_incremental
        self.texts: list[str] = []
        self.files: list[str] = []  # generated parquet files, base first
        self.next_id = 0
        self._generate(self.BASE)
        self.applied = 1  # files[:applied] are in the stored state
        self.edges_added: list[int] = []
        self.inc.init_state_tables(self.spark, self.spark.read.parquet(self.files[0]), namespace=self.NS)
        self.prepare()
        self.op()  # warm-up: one increment

    def _generate(self, n: int) -> None:
        table = gen.corpus_docs(self.ctx.seed, n, first_id=self.next_id, pool=self.texts)
        self.next_id += n
        self.texts.extend(table.column("text").to_pylist())
        path = self.ctx.path("data", "corpus", f"part{len(self.files):04d}.parquet")
        pq.write_table(table, path)
        self.files.append(path)

    def _batch(self, k: int) -> str:
        """Path of the k-th batch (1-based), generated on first use."""
        while len(self.files) <= k:
            self._generate(self.BATCH)
        return self.files[k]

    def prepare(self) -> None:
        self.batch = self.spark.read.parquet(self._batch(self.applied))

    def op(self) -> None:
        traced = self.ctx.tracer is not None
        if traced:
            with self.ctx.span("dedup.count", untimed=True):
                before = self.spark.table(f"{self.NS}.edges").count()
        self.inc.run_increment(self.spark, self.batch, namespace=self.NS)
        self.applied += 1
        if traced:
            with self.ctx.span("dedup.count", untimed=True):
                self.edges_added.append(self.spark.table(f"{self.NS}.edges").count() - before)

    def check(self) -> list[str]:
        """Stored stage tables == a full ``build_state`` over everything
        merged so far (base ∪ applied batches)."""
        built = self.inc.build_state_detailed(self.spark.read.parquet(*self.files[: self.applied]))
        failures = []
        for name, frame in built.state.frames().items():
            want = frame.count()
            got = self.spark.table(f"{self.NS}.{name}").count()
            if got != want:
                failures.append(f"{self.NS}.{name}: {got} rows, rebuild has {want}")
        built.release()
        return failures

    def instrument(self, tracer: Tracer) -> None:
        tracer.wrap(self.inc, "run_increment", "corpus_incremental.run_increment")
        tracer.wrap(self.inc, "apply_increment_detailed", "corpus_incremental.apply")
        tracer.wrap(
            self.corpus,
            "write_table",
            lambda df, table, *a, **k: f"corpus.stage.{table.rpartition('.')[2]}",
            everywhere=False,
        )
        instrument_merge(tracer, self.ctx.warehouse)

    def traced_extra(self, tracer: Tracer) -> dict:
        """One full build over the base corpus, traced for its stage spans.
        It takes no untimed counts, so its timed length is ``build_s``."""
        tracer.repatch()
        with tracer.span("corpus.build") as s:
            self.corpus.corpus_pipeline(self.spark, self.spark.read.parquet(self.files[0]), namespace="corpus_full")
        tracer.unpatch()
        return {"build_s": s.timed}

    def layer_metrics(self, tracer, usage, traced) -> dict:
        build = _spans(tracer, "corpus.build")
        runs = _spans(tracer, "corpus_incremental.run_increment")
        m = {
            "corpus.jobs_per_build": usage.of(build)["jobs"],
            "corpus_incremental.apply_s": _mean([s.timed for s in _spans(tracer, "corpus_incremental.apply")]),
            "corpus_incremental.jobs_per_increment": usage.of(runs)["jobs"] / max(1, len(runs)),
            "dedup.edges_added": _mean(self.edges_added),
        }
        for stage in ("intake", "dedup_exact", "dedup_near", "rebalanced", "split", "packed"):
            m[f"corpus.stage_s.{stage}"] = sum(s.timed for s in _spans(tracer, f"corpus.stage.{stage}"))
        m.update(merge_metrics(tracer, usage, len(traced.op_spans)))
        return m


WORKLOADS = {w.name: w for w in (QueryMix, MedallionDaily, CorpusDedup)}
