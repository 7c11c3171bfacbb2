"""The benchmark's workloads.

A workload generates its inputs from the run's seed (``prepare``), runs
every op once cold as the last step of the set-up (``cold_pass``, which
also checks outputs; only the program's time counts toward the set-up)
and runs the timed loop in units (``unit``): one query or one lake stage.
A unit returns the ops it completed with their latencies and input rows;
output checks inside a unit run after its clock stops.

Each workload calls only the program's public entry points: the query
registry, ``sources.readers.read_table``, the ``plans`` stages that
``cli.run_pipeline`` chains, ``streaming.windows`` and
``streaming.foreach_sink`` (which calls ``sources.upsert.merge_upsert``).
"""

from __future__ import annotations

import os
import shutil
import sys
import time
from dataclasses import dataclass
from pathlib import Path

import numpy as np
import pyarrow.parquet as pq

import gen

#: holds the repository's DuckDB comparison, ``oracle_harness.py``
TESTS = Path(__file__).resolve().parent.parent / "tests"


@dataclass
class Op:
    name: str
    seconds: float
    rows: int
    ok: bool = True
    error: str = ""


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _oracle_harness():
    """Import the repository's oracle harness without writing bytecode
    next to it."""
    sys.path.insert(0, str(TESTS))
    dont_write, sys.dont_write_bytecode = sys.dont_write_bytecode, True
    try:
        import oracle_harness
    finally:
        sys.dont_write_bytecode = dont_write
        sys.path.remove(str(TESTS))
    return oracle_harness


class _TimedCollect:
    """Hands ``oracle_harness.compare`` a DataFrame's columns and rows and
    times the collect, so the DuckDB side is left out of the set-up time."""

    def __init__(self, df):
        self.df = df
        self.columns = df.columns
        self.seconds = 0.0

    def collect(self):
        t0 = time.perf_counter()
        rows = self.df.collect()
        self.seconds = time.perf_counter() - t0
        return rows


class Workload:
    """Base: ``root`` is a scratch directory owned by the run."""

    name = ""

    def __init__(self, root: str, rng: np.random.Generator, tiny: bool, inject_wrong: bool):
        self.root = root
        self.rng = rng
        self.tiny = tiny
        self.inject_wrong = inject_wrong
        self.failures: list[str] = []

    def prepare(self) -> None:
        raise NotImplementedError

    def cold_pass(self, spark) -> float:
        """Run every op once, cold, and check its output; returns the time
        spent in the program (the set-up's warm-up)."""
        raise NotImplementedError

    def unit(self, spark, k: int, tracer) -> tuple[list[Op], float]:
        """Run one unit; returns its ops and its wall time, which excludes
        any output check the unit makes after its clock stops."""
        raise NotImplementedError

    def pass_done(self) -> bool:
        """Whether the loop may stop after the last unit."""
        return True

    def layer_extras(self) -> dict[str, float]:
        """Per-layer numbers the workload measures itself (not spans)."""
        return {}

    def _fail(self, what: str) -> None:
        self.failures.append(what)


# --- registry query mix ---------------------------------------------------


class QueryMix(Workload):
    """Passes over a fixed set of registry queries, each pass in a seeded
    order; every op is one registry call plus a noop-sink action. The mix
    holds relational queries (scan + aggregate, multi-way join, as-of join,
    interval join) and LLM-data queries (fingerprint dedup, MinHash LSH,
    k-means) over the same star-schema inputs. The query count is odd, so
    the median op falls inside the latencies of the middle queries
    (``pricing_summary``, ``asof_join``, ``interval_join``: 0.4-0.8 s on a
    4-vCPU host), not in a gap between two; a mix whose middle is one
    query makes the median as noisy as that query."""

    name = "query_mix"
    sf = 0.02
    queries = (
        "pricing_summary",
        "revenue_by_nation",
        "asof_join",
        "interval_join",
        "exact_dedup_docs",
        "minhash_lsh",
        "semantic_kmeans",
    )

    def __init__(self, *args):
        super().__init__(*args)
        self.sf_dir = os.path.join(self.root, "tables")
        self.op_rows: dict[str, int] = {}
        self.wrong: dict[str, str] = {}
        self._order: list[str] = []

    def prepare(self) -> None:
        self.rows = gen.star_tables(self.sf_dir, self.rng, 0.001 if self.tiny else self.sf)

    def _registry(self):
        from ra2_datalake_linaresjoan_spark import queries as q

        return q.queries()

    def cold_pass(self, spark) -> float:
        """Collect each query once and compare it with its DuckDB oracle;
        returns the summed registry-call and collect time."""
        from ra2_datalake_linaresjoan_spark import queries as q

        harness = _oracle_harness()
        registry, sqls = q.queries(), q.oracle_sql()
        con = harness.duck_con(self.sf_dir)
        spent = 0.0
        try:
            for name in self.queries:
                try:
                    t0 = time.perf_counter()
                    df = registry[name](spark, self.sf_dir)
                    spent += time.perf_counter() - t0
                    self.op_rows[name] = sum(
                        self.rows[_table_of(f)] for f in set(df.inputFiles())
                    )
                    if self.inject_wrong:
                        df = df.limit(max(df.count() - 1, 0))
                    rows = _TimedCollect(df)
                    ok, reason = harness.compare(rows, con, sqls[name])
                    spent += rows.seconds
                except Exception as e:  # reported as a mismatch, the run goes on
                    ok, reason = False, f"{type(e).__name__}: {e}"
                if not ok:
                    self.wrong[name] = " ".join(reason.split())[:300]
                    self._fail(f"{name}: {self.wrong[name]}")
        finally:
            con.close()
        return spent

    def unit(self, spark, k: int, tracer) -> tuple[list[Op], float]:
        if not self._order:
            self._order = list(self.rng.permutation(self.queries))
        name = self._order.pop(0)
        fn = self._registry()[name]
        t0 = time.perf_counter()
        if tracer is None:
            _noop(fn(spark, self.sf_dir))
        else:
            span = tracer.begin(f"queries.{name}", "queries")
            try:
                df = fn(spark, self.sf_dir)
                span.build_s = time.perf_counter() - t0
                _noop(df)
            finally:
                tracer.end(span)
        dt = time.perf_counter() - t0
        op = Op(name, dt, self.op_rows.get(name, 0), name not in self.wrong, self.wrong.get(name, ""))
        return [op], dt

    def pass_done(self) -> bool:
        return not self._order


def _table_of(path: str) -> str:
    return os.path.basename(path.rstrip("/")).removesuffix(".parquet")


def _tree_bytes(path: str) -> tuple[int, int]:
    """(bytes, files) of the data files under ``path``."""
    total = files = 0
    for dirpath, _, names in os.walk(path):
        for n in names:
            if n.startswith((".", "_")):
                continue
            total += os.path.getsize(os.path.join(dirpath, n))
            files += 1
    return total, files


# --- medallion load --------------------------------------------------------

_SILVER = ("markets", "events", "series")


class MedallionLoad(Workload):
    """Passes over the lake's stages, each pass into a fresh lake
    directory; every op is one stage. The first four stages call the
    program's public functions in the order ``cli.run_pipeline`` calls them
    with ``silver_path`` and ``gold_path`` set:

    1. ``silver``: bronze read (``sources.readers.read_table``) →
       ``clean_markets`` → ``gaming_market_filter`` →
       ``enrich_gaming_markets``, ``clean_events``, ``clean_series`` →
       silver parquet.
    2. ``gold``: ``build_gold`` over the silver tables → ``write_gold``.
    3. ``validate``: ``validate_gold`` over the gold tables (about 60 small
       actions); it must pass with non-empty bridge facts.
    4. ``report``: ``volumetry_report`` and ``gaming_summary``.
    5. ``stream``: the gold market dimension's change feed arrives as
       files; an availableNow stream at one file per trigger drops
       re-delivered events (``streaming.windows.stream_dedup``,
       checkpointed state) and merges every micro-batch into the dimension
       (``streaming.foreach_sink.stream_merge_sink`` →
       ``sources.upsert.merge_upsert``).

    A pass is about 200 Spark jobs and takes 8-20 s warm on a 4-vCPU
    host, so timing whole passes would give one sample per run; stage ops
    give five. ``rows`` are the inputs a stage reads from outside the
    lake: bronze rows for ``silver``, change-feed rows for ``stream``."""

    name = "medallion_load"
    n_markets = 1_000
    feed_files = 3
    feed_per_file = 60
    stages = ("silver", "gold", "validate", "report", "stream")

    def __init__(self, *args):
        super().__init__(*args)
        self.bronze = os.path.join(self.root, "bronze")
        self.feed = os.path.join(self.root, "feed")
        self.lake = os.path.join(self.root, "lake")
        self.silver = os.path.join(self.lake, "silver")
        self.gold = os.path.join(self.lake, "gold")
        self.dim = os.path.join(self.gold, "dim_mercado_gaming")
        self._next = 0
        self._gold_names: list[str] = []
        self.progress: list[dict] = []
        self.stored: list[float] = []
        self.written: list[tuple[int, int]] = []
        self.rewrite: list[float] = []

    def prepare(self) -> None:
        n_markets = 400 if self.tiny else self.n_markets
        self.bronze_rows = sum(gen.bronze_lake(self.bronze, self.rng, n_markets).values())
        self.changes = gen.change_feed(
            self.feed, self.rng, [f"m{i}" for i in range(n_markets)], self.feed_files,
            self.feed_per_file,
        )
        self.feed_rows = sum(
            pq.read_metadata(os.path.join(self.feed, f)).num_rows for f in os.listdir(self.feed)
        )

    def cold_pass(self, spark) -> float:
        ops = [self.unit(spark, k, None)[0][0] for k in range(len(self.stages))]
        return sum(o.seconds for o in ops)

    def unit(self, spark, k: int, tracer) -> tuple[list[Op], float]:
        stage = self.stages[self._next]
        self._next = (self._next + 1) % len(self.stages)
        op = getattr(self, f"_{stage}")(spark, tracer)
        if op.error:
            op.ok = False
            self._fail(f"{stage} (unit {k}): {op.error}")
        return [op], op.seconds

    def pass_done(self) -> bool:
        return self._next == 0

    def _timed(self, tracer, stage: str, fn):
        """``fn()`` and its wall time; a root span when traced."""
        span = tracer.begin(f"medallion.{stage}", "bench") if tracer else None
        t0 = time.perf_counter()
        try:
            out = fn()
        finally:
            dt = time.perf_counter() - t0
            if span is not None:
                tracer.end(span)
        return out, dt

    def _tables(self, spark, base: str, names) -> dict:
        return {n: spark.read.parquet(os.path.join(base, n)) for n in names}

    def _silver(self, spark, tracer) -> Op:
        from ra2_datalake_linaresjoan_spark.plans import pipelines as p
        from ra2_datalake_linaresjoan_spark.sources import readers

        shutil.rmtree(self.lake, ignore_errors=True)

        def run():
            markets, events, series = (
                readers.read_table(spark, os.path.join(self.bronze, f"{e}.parquet"))
                for e in _SILVER
            )
            m = p.enrich_gaming_markets(p.gaming_market_filter(p.clean_markets(markets)))
            for name, df in zip(_SILVER, (m, p.clean_events(events), p.clean_series(series))):
                df.write.mode("overwrite").parquet(os.path.join(self.silver, name))

        _, dt = self._timed(tracer, "silver", run)
        return Op("silver", dt, self.bronze_rows)

    def _gold(self, spark, tracer) -> Op:
        from ra2_datalake_linaresjoan_spark.plans import star_schema

        def run():
            gold = star_schema.build_gold(spark, *self._tables(spark, self.silver, _SILVER).values())
            star_schema.write_gold(gold, self.gold)
            return list(gold)

        self._gold_names, dt = self._timed(tracer, "gold", run)
        b_silver, f_silver = _tree_bytes(self.silver)
        b_gold, f_gold = _tree_bytes(self.gold)
        self.stored.append((b_silver + b_gold) / _tree_bytes(self.bronze)[0])
        self.written.append((b_silver + b_gold, f_silver + f_gold))
        return Op("gold", dt, 0)

    def _validate(self, spark, tracer) -> Op:
        from ra2_datalake_linaresjoan_spark.plans import validator

        def run():
            return validator.validate_gold(self._tables(spark, self.gold, self._gold_names))

        report, dt = self._timed(tracer, "validate", run)
        reasons = [] if report.ok else [f"gold integrity failed: {report.orphans}"]
        reasons += [f"{fact} is empty" for fact in
                    ("fact_mercado_evento_gaming", "fact_evento_tag_gaming")
                    if report.counts.get(fact, 0) == 0]
        return Op("validate", dt, 0, error="; ".join(reasons))

    def _report(self, spark, tracer) -> Op:
        from ra2_datalake_linaresjoan_spark.plans import pipelines, volumetry

        def run():
            silver = self._tables(spark, self.silver, _SILVER)
            gold = self._tables(
                spark, self.gold, ("fact_mercado_evento_gaming", "fact_evento_tag_gaming")
            )
            vol = volumetry.volumetry_report(
                silver,
                {
                    "markets_per_event": (
                        gold["fact_mercado_evento_gaming"], "evento_id", "mercado_id"
                    ),
                    "events_per_tag": (gold["fact_evento_tag_gaming"], "tag_id", "evento_id"),
                },
            )
            return vol, pipelines.gaming_summary(silver["markets"]).collect()

        (vol, summary), dt = self._timed(tracer, "report", run)
        error = "" if vol and summary else "empty volumetry report or gaming summary"
        return Op("report", dt, 0, error=error)

    def _stream(self, spark, tracer) -> Op:
        from ra2_datalake_linaresjoan_spark.streaming.foreach_sink import stream_merge_sink
        from ra2_datalake_linaresjoan_spark.streaming.windows import (
            read_events_stream,
            stream_dedup,
        )

        # before the clock: snapshot the dimension, deliver the change feed
        before = {r["mercado_id"]: r for r in spark.read.parquet(self.dim).collect()}
        before_bytes = _tree_bytes(self.dim)[0]
        feed = os.path.join(self.lake, "feed")
        shutil.copytree(self.feed, feed)  # copy2 keeps the arrival order (mtimes)

        def run():
            changes = stream_dedup(read_events_stream(spark, feed, max_files_per_trigger=1))
            q = stream_merge_sink(
                changes.drop("event_id", "ts"), self.dim, ["mercado_id"],
                os.path.join(self.lake, "_checkpoint"), output_mode="append",
            )
            # the micro-batches run while the caller waits: charge the wait
            # (and the stream's own jobs) to the streaming layer
            wait = tracer.begin("streaming.query_run", "streaming") if tracer else None
            try:
                q.awaitTermination()
            finally:
                if wait is not None:
                    tracer.end(wait)
                    wait.groups.append(str(q.runId))
            return q

        q, dt = self._timed(tracer, "stream", run)
        self.progress += [p for p in q.recentProgress if p["numInputRows"]]
        # every micro-batch merge rewrites the whole dimension
        changed = before_bytes * len(self.changes) / max(len(before), 1)
        self.rewrite.append(self.feed_files * _tree_bytes(self.dim)[0] / max(changed, 1.0))
        return Op("stream", dt, self.feed_rows, error=self._check_dim(spark, before) or "")

    def _check_dim(self, spark, before: dict) -> str | None:
        """Each key's latest change row wins (a superseded event that is
        re-delivered after its revision must have been dropped by the
        dedup), every other row is untouched, and each key is stored
        once."""
        rows = spark.read.parquet(self.dim).collect()
        got = {r["mercado_id"]: r for r in rows}
        if len(rows) != len(got):
            return f"dimension holds {len(rows)} rows for {len(got)} keys"
        want = {k: v.asDict() for k, v in before.items()}
        for key, row in self.changes.items():
            want[key] = dict(zip(gen.MARKET_DIM_COLS, row))
        if self.inject_wrong:
            want[next(iter(self.changes))]["pregunta"] = "tampered"
        if set(got) != set(want):
            return f"dimension holds {len(got)} keys after the change feed, expected {len(want)}"
        for key, row in want.items():
            if any(got[key][c] != row[c] for c in gen.MARKET_DIM_COLS):
                return f"dimension row {key} is not the expected survivor"
        return None

    def layer_extras(self) -> dict[str, float]:
        n = len(self.written) or 1
        trig = [p["durationMs"] for p in self.progress]
        total = sum(d.get("triggerExecution", 0) for d in trig) or 1
        share = lambda key: 100.0 * sum(d.get(key, 0) for d in trig) / total  # noqa: E731
        state = self.progress[-1]["stateOperators"] if self.progress else []
        return {
            "storage.stored_bytes_per_input_byte": float(np.median(self.stored)),
            "storage.bytes_written_per_pass": sum(b for b, _ in self.written) / n,
            "storage.files_written_per_pass": sum(f for _, f in self.written) / n,
            "sources.upsert_rewrite_ratio": float(np.median(self.rewrite)),
            "streaming.add_batch_pct": share("addBatch"),
            "streaming.query_planning_pct": share("queryPlanning"),
            "streaming.wal_commit_pct": share("walCommit") + share("commitOffsets"),
            "streaming.state_rows": float(sum(s["numRowsTotal"] for s in state)),
            "streaming.state_memory_bytes": float(sum(s["memoryUsedBytes"] for s in state)),
        }


WORKLOADS = {w.name: w for w in (QueryMix, MedallionLoad)}
