"""The benchmark's workloads.

Both run closed-loop with one client: the next op starts only after the
previous one returned and was checked.

- ``nightly_rebuild`` -- one op extracts every source table from a DuckDB
  upstream through ``duckdb_source.extract_design`` into the landing area
  (one thread per source, at most ``cpus``, as the loader loads them),
  discovers the design repo, and runs ``loader.load_warehouse`` with a
  fresh ``etl_id``.  This is the paper's own job; extraction, data writes,
  constraint checks, ANALYZE and publish all carry weight.
- ``analyst_queries`` -- one op runs one query of the pinned 4-query mix
  and collects its result; a pass runs the mix once.  Read-only: the
  loader is bypassed, so it is the no-change control for loader changes,
  and Catalyst, codegen, execution and the Python/Arrow boundary do all
  the work.

Each workload exposes ``prepare`` (inputs and expected outputs only, no
Spark, repeatable), ``start`` (bind to a session), ``ops`` (yields the ops
of one pass as ``(name, op, check)``: ``check(op())`` runs after the op's
timer stops) and, for tracing, ``install_tracing``/``uninstall_tracing``.
"""

from __future__ import annotations

import os
import shutil
import uuid
from concurrent.futures import ThreadPoolExecutor

import duckdb

import datagen
import queries
import warehouse


class NightlyRebuild:
    name = "nightly_rebuild"
    # the cold rebuild runs every code path the warm ones do, and a second
    # untimed rebuild would not fit a run of about a minute
    warmup_passes = 0

    def __init__(self, seed: int, sf: float, cpus: int, workdir: str):
        self.seed, self.sf, self.cpus = seed, sf, cpus
        self.upstream = os.path.join(workdir, "upstream.duckdb")
        self.repo_root = os.path.join(workdir, "warehouse_repo")
        self.lake = os.path.join(workdir, "lake")
        self.tracer = None

    def prepare(self) -> None:
        shutil.rmtree(self.repo_root, ignore_errors=True)
        os.makedirs(os.path.dirname(self.upstream), exist_ok=True)
        tables = datagen.generate(self.seed, self.sf)
        warehouse.build_upstream(self.upstream, tables)
        self.expected = warehouse.prepare(self.repo_root, self.upstream, self.cpus)
        self.source_rows = {t: tables[t].num_rows for t in datagen.SOURCE_TABLES}

    def start(self, spark, program) -> None:
        self.spark = spark
        self.p = program
        self.con = duckdb.connect()
        self.etl_ids = []
        self.last_events = []

    def _extract(self, rel) -> None:
        table = rel.table_name.table
        # the byte size an upstream size probe would report: the extract
        # planner splits by bytes, so small tables read as one range
        df = self.p.duckdb_source.extract_design(
            self.spark, rel.design, self.upstream,
            table_size_bytes=self.source_rows[table] * len(rel.design.columns) * 8,
        )
        df.write.mode("overwrite").parquet(
            os.path.join(self.repo_root, "data", "src", table)
        )
        if self.tracer is not None:
            self.tracer.count("sources.rows", self.source_rows[table])

    def _traced_extract(self, rel) -> None:
        if self.tracer is None:
            self._extract(rel)
        else:
            with self.tracer.span("sources.extract"):
                self._extract(rel)

    def rebuild(self) -> bool:
        sources = [r for r in self.p.repo.find_file_sets(self.repo_root)
                   if r.is_source_relation]
        # extract like the loader loads: one thread per source, at most cpus
        with ThreadPoolExecutor(max_workers=self.cpus) as pool:
            list(pool.map(self._traced_extract, sources))
        rels = self.p.repo.find_file_sets(self.repo_root)
        ctx = self.p.loader.LoadContext(
            self.spark, data_root=self.lake, etl_id=uuid.uuid4().hex[:12],
            max_concurrency=self.cpus,
        )
        self.ctx = ctx
        outcome = self.p.loader.load_warehouse(ctx, rels)
        return all(outcome.values())

    def check(self, loaded: bool) -> bool:
        """Compare what is published with the DuckDB expectation, then drop
        lake versions older than the backup the publish keeps."""
        ok = loaded and warehouse.published_state(self.spark, self.con) == self.expected
        self.last_events = [
            e for e in self.ctx.store.events() if e.get("event") == "finish"
        ]
        self.etl_ids.append(self.ctx.etl_id)
        for old in self.etl_ids[:-2]:
            shutil.rmtree(os.path.join(self.lake, old), ignore_errors=True)
        self.etl_ids = self.etl_ids[-2:]
        return ok

    def ops(self):
        """One pass is one rebuild."""
        yield "rebuild", self.rebuild, self.check

    def install_tracing(self, tracer) -> None:
        """Spans at each layer boundary the rebuild crosses."""
        loader = self.p.loader
        self.tracer = tracer

        def planned(ctx, rel, df, db):
            with tracer.span("loader.materialize"):
                with tracer.span("spark.planning"):
                    df._jdf.queryExecution().executedPlan()
                result = original_materialize(ctx, rel, df, db)
            files, size = _listing(ctx.table_location(rel.table_name))
            tracer.count("loader.files_written", files)
            tracer.count("loader.bytes_written", size)
            return result

        original_materialize = loader.materialize_dataframe
        tracer.patch(loader, "materialize_dataframe", planned)
        tracer.wrap(
            loader, "check_all_constraints", "constraints.check",
            after=lambda args, kw, r: tracer.count(
                "constraints.checks", len(list(args[1].constraint_items()))
            ),
        )
        tracer.wrap(loader, "publish", "loader.publish")
        tracer.wrap(
            loader, "ensure_heap_headroom", "heap.headroom",
            after=lambda args, kw, r: tracer.count("heap.calls"),
        )
        tracer.wrap(loader, "select_in_execution_order", "relations.order")
        tracer.wrap(loader, "order_by_dependencies", "relations.order")
        tracer.wrap(self.p.repo, "find_file_sets", "repo.discover")
        original_retry = loader.call_with_retry

        def counted_retry(max_retries, fn, *args, **kwargs):
            attempts = []

            def attempt():
                attempts.append(1)
                return fn()

            try:
                return original_retry(max_retries, attempt, *args, **kwargs)
            finally:
                tracer.count("retry.retries", len(attempts) - 1)

        tracer.patch(loader, "call_with_retry", counted_retry)

    def uninstall_tracing(self) -> None:
        self.tracer.uninstall()
        self.tracer = None


def _listing(path: str) -> tuple:
    files = size = 0
    for dirpath, _dirs, names in os.walk(path):
        for n in names:
            if n.endswith(".parquet"):
                files += 1
                size += os.path.getsize(os.path.join(dirpath, n))
    return files, size


class AnalystQueries:
    name = "analyst_queries"
    # query times still fall by a fifth from the first warm pass to the
    # second; after that they settle
    warmup_passes = 1

    def __init__(self, seed: int, sf: float, cpus: int, workdir: str):
        self.seed, self.sf = seed, sf
        self.data = os.path.join(workdir, "tables")
        self.tracer = None

    def prepare(self) -> None:
        shutil.rmtree(self.data, ignore_errors=True)
        datagen.write_parquet(datagen.generate(self.seed, self.sf), self.data)
        from arthur_redshift_etl_spark import workload

        con = duckdb.connect()
        try:
            for t in datagen.ALL_TABLES:
                con.execute(
                    f"CREATE VIEW {t} AS SELECT * FROM "
                    f"'{os.path.join(self.data, t)}.parquet'"
                )
            self.expected = queries.expected_results(con, workload.REGISTRY)
        finally:
            con.close()

    def start(self, spark, program) -> None:
        self.spark = spark
        self.registry = program.workload.REGISTRY

    def _run(self, name: str):
        tracer = self.tracer
        if tracer is None:
            df = self.registry[name].fn(self.spark, self.data)
            rows = df.collect()
        else:
            with tracer.span("query.build"):
                df = self.registry[name].fn(self.spark, self.data)
            with tracer.span("spark.planning"):
                df._jdf.queryExecution().executedPlan()
            with tracer.span("query.collect"):
                rows = df.collect()
        self.last = (name, df, rows)
        return True

    def _check(self, _ran: bool) -> bool:
        name, df, rows = self.last
        # per-query persisted intermediates must not leak into the next op
        self.spark.catalog.clearCache()
        return queries.canonical(df.columns, rows) == self.expected[name]

    def ops(self):
        """One pass runs every query of the mix once, in the pinned order."""
        for name in queries.QUERIES:
            yield name, (lambda n=name: self._run(n)), self._check

    def install_tracing(self, tracer) -> None:
        self.tracer = tracer

    def uninstall_tracing(self) -> None:
        self.tracer = None


WORKLOADS = {w.name: w for w in (NightlyRebuild, AnalystQueries)}
